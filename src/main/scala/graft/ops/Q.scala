package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: the Spark build and (when SQL-expressible)
  * its semantically-identical DuckDB oracle over the same parquet tables.
  * Keeping the pair adjacent is the main defense against name/alias drift —
  * the driver sorts result columns by name before hashing, so every output
  * column must carry the same alias in both surfaces. */
final case class Q(
    key: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(key: String, oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(key, build, Some(oracle))
  def noOracle(key: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(key, build, None)

  /** Library-level cache lifecycle (r4 verdict item 6). Query builds
    * persist() intermediates — LSH indexes, contraction tags — that only
    * their own action should reuse; in a long-lived user session those
    * persists would otherwise accrete without bound (r4 counted 24
    * persists and 1 unpersist across src/main; the Bench/Verify
    * clearCache() only protected the two harnesses, not embedders).
    *
    * `cached` is persist() that ALSO registers the frame with the
    * innermost `withCached` scope active on this thread; `withCached`
    * evaluates a build, runs the caller's action over it, and then
    * unpersists everything the build cached — try/finally, so a failed
    * action releases too. Outside any scope (interactive exploration,
    * streaming micro-batch wiring) `cached` degrades to a plain
    * persist(), exactly the pre-r5 behavior.
    *
    * Scopes nest (a build may run another build in its action): each
    * frame unpersists when the scope that created it exits. Thread-local
    * is the right container because builds and their driving action run
    * on one caller thread — executor-side tasks never see this object. */
  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue(): List[scala.collection.mutable.ArrayBuffer[DataFrame]] = Nil
    }

  private[graft] def cached(df: DataFrame): DataFrame = {
    df.persist()
    scopes.get() match {
      case buf :: _ => buf += df
      case Nil      => ()
    }
    df
  }

  /** Run `action` over `build`'s result, then release every intermediate
    * the build `cached` — the library-user entry point for leak-free
    * one-shot queries: `Q.withCached(q.build(spark, dir))(_.count())`.
    *
    * `action` MUST fully consume the frame — run the terminal action
    * (count/collect/write) — INSIDE the scope. Returning a lazy
    * DataFrame (or starting a streaming query) and consuming it after
    * the scope exits silently unpersists the build's indexes first, and
    * every later action re-derives them from scratch — a perf footgun,
    * not a correctness one (r5 advice). Long-lived consumers (streaming
    * probes holding a static index across micro-batches) should build
    * OUTSIDE any scope, where `cached` degrades to a plain persist()
    * they manage themselves. */
  def withCached[T](build: => DataFrame)(action: DataFrame => T): T = {
    val buf = new scala.collection.mutable.ArrayBuffer[DataFrame]
    scopes.set(buf :: scopes.get())
    val df =
      try build
      catch { case t: Throwable => scopes.set(scopes.get().tail); release(buf); throw t }
    scopes.set(scopes.get().tail)
    try action(df)
    finally release(buf)
  }

  private def release(buf: scala.collection.mutable.ArrayBuffer[DataFrame]): Unit =
    buf.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }

  /** r14 — recover parallelism for heavy per-row work over a SMALL scan
    * (guide §1.2 per-task work; §2.5 input skew "one huge unsplittable
    * file"). A parquet file smaller than one scan split arrives as ONE
    * task no matter the session's core count (a single row group cannot
    * be split), so every downstream map — tokenize, n-gram explode,
    * regex — runs single-threaded until the first exchange. When (and
    * only when) the WHOLE input fits one split (≤
    * `spark.sql.files.maxPartitionBytes`) and the scan is narrower than
    * the session's parallelism, hash-repartition it by `key` across the
    * cores: the shuffled bytes are bounded by one split, the key is a
    * real column (no round-robin pre-sort, deterministic placement
    * under retries), and per-row compute then uses the whole machine.
    * At cluster scale the input exceeds one split and this is the
    * identity — no exchange is ever added to a big scan. Callers must
    * project to the needed columns FIRST so only they cross the wire. */
  private[graft] def spreadScan(df: DataFrame,
      key: org.apache.spark.sql.Column,
      targetBytesPerTask: Long = 0L): DataFrame = {
    // A streaming frame cannot be planned here (optimizedPlan/stats
    // throw on unresolved streaming sources) and micro-batch inputs are
    // already split by the source — degrade to identity (r14 advice;
    // tsContraction is reachable from StreamOps.nearDupAgainst).
    if (df.isStreaming) return df
    // Scan-shaped plans only: physically planning an arbitrary upstream
    // lineage per call is real driver time — measured ~0.3 s per run on
    // llm_corpus_clean, whose contraction input is a cached multi-stage
    // aggregate the guard would no-op on anyway. A plan of
    // Project/Filter over a relation is cheap to plan and is exactly
    // the "small file arrives as one task" case this helper exists for.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    def scanShaped(p: LogicalPlan): Boolean = p match {
      case pr: Project => scanShaped(pr.child)
      case f: Filter   => scanShaped(f.child)
      case l            => l.children.isEmpty &&
        !l.getClass.getSimpleName.contains("InMemoryRelation")
    }
    val spark = df.sparkSession
    val dp = spark.sparkContext.defaultParallelism
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val oneSplit = conf.filesMaxPartitionBytes
    val plan = df.queryExecution.optimizedPlan
    if (!scanShaped(plan)) return df
    val size = plan.stats.sizeInBytes
    // Wide input (more than one scan split): identity — at cluster
    // scale every real scan takes this branch, so no exchange is ever
    // added to a big input. Derived from the optimizer's size estimate
    // alone (r14 planned the lineage a second time via df.rdd just to
    // read the partition count; size ≤ one split already implies the
    // scan packs into one task, so the probe was redundant driver work).
    if (size > oneSplit) return df
    // r15: width derives from input BYTES, not defaultParallelism — a
    // tiny input fanning to 32 tasks pays 32 task dispatches, 32-slot
    // cached partitions and 32-task downstream stages for rows that fit
    // a handful of tasks (the r14 driver-window anomaly pattern; the
    // same binary at 8 cores ran these keys FASTER). target bytes/task
    // is parameterised for production; the default is the interleaved
    // A/B winner at the bench fixture sizes (see OPTIMIZATION_r15.md).
    // call sites whose downstream per-row work is coarser than the
    // tokenize paths (e.g. 64-long embedding decodes feeding repeated
    // cached map passes) may pass an explicit target; 0 = session conf
    val target = math.max(1L, if (targetBytesPerTask > 0) targetBytesPerTask
      else graft.GraftConf.spreadTargetBytesPerTask.get(spark))
    val w = ((size + target - 1) / target).min(BigInt(dp)).toInt
    if (w > 1) df.repartition(w, key) else df
  }
}
