package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Subword (BPE) tokenization (r11, r10 verdict item 4): the gap
  * between a whitespace-token pipeline and what an LLM data pipeline
  * actually packs/mixes on. Two registered rows:
  *
  *   - `llm_bpe_train`: learn a deterministic merge table (rank, lhs,
  *     rhs, merged) of [[Merges]] byte-pair merges from the corpus'
  *     word-frequency table (Sennrich et al. 2016 — the reference BPE:
  *     count adjacent symbol pairs weighted by word frequency, merge
  *     the most frequent, repeat; ties break lexicographically).
  *   - `llm_bpe_apply`: re-tokenize every document through the learned
  *     merges and emit per-doc subword token counts.
  *
  * DISTRIBUTED SHAPE. BPE statistics are a function of the WORD-
  * FREQUENCY table alone, not the corpus: counting pairs over
  * (word, freq) is exactly counting over every occurrence. So the
  * corpus-sized work is ONE explode + groupBy(word) pass; training then
  * runs on the frequency table, capped at the [[MaxWords]] most
  * frequent words (deterministic cap: count desc, word — the standard
  * practice; HF/sentencepiece train from capped word counts the same
  * way) and collected — a BOUNDED O(MaxWords) driver fold, the same
  * class as the MG heavy-hitter fold and the ANN sample-trained
  * quantizers, NOT a corpus collect. Apply contracts the same way: the
  * merge loop runs once per DISTINCT word (vocab-sized frame, merges
  * broadcast), and per-doc counts come from a (doc_id, word)-keyed
  * aggregate joined against that vocab frame — document text itself is
  * never re-shuffled, and no per-occurrence merge loop ever runs. At
  * 100 TB: two corpus passes total (train's word count; apply's word
  * explode), everything else vocab-sized.
  *
  * ORACLE. Merges are deterministic integer/string data, so both rows
  * hash-gate against DuckDB running the SAME algorithm spelled as a
  * generated [[Merges]]-stage SQL chain. The cross-engine trick is the
  * DOUBLE-SPACE encoding: a word's symbol sequence is held as
  * `' s1  s2  ...  sN '` (two spaces between symbols, one at each
  * edge); replacing `' a  b '` with `' ab '` is then EXACTLY BPE's
  * leftmost non-overlapping merge — consecutive occurrences re-expose
  * their boundary space after each replacement (`' a  b  a  b '` →
  * `' ab  ab '`), which a single-space encoding gets wrong (SQL
  * replace() consumes the shared delimiter). Scala applies merges on
  * symbol arrays; the encodings agree by construction and the driver
  * hash pins it. CTEs are MATERIALIZED — each stage references its
  * predecessor twice, and un-materialized inlining is 2^K scans.
  *
  * Words are normalized to lowercase `[a-z]+` runs on both sides —
  * the usual pre-tokenizer normalization, and it keeps the oracle's
  * regex/collation semantics engine-independent (ASCII-only: DuckDB
  * binary collation ≡ Java string order). */
object Bpe {

  /** Merge-table size: small enough that the generated oracle stays
    * tractable, large enough that multi-level merges (pairs of merged
    * symbols) appear — the algorithmically interesting regime. */
  val Merges = 24

  /** Word-frequency cap for training — the bounded-collect contract. */
  val MaxWords = 2048

  /** Normalized word counts: the ONE corpus-sized pass of training. */
  private def wordCounts(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .select(lower(col("w")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Exact reference BPE over a word-frequency table: K rounds of
    * (count adjacent pairs weighted by freq → merge the argmax, ties
    * lexicographic). Pure driver compute on the bounded capped table —
    * O(MaxWords · avgLen · K). */
  private[graft] def trainMerges(words: Seq[(String, Long)],
      k: Int): Seq[(String, String)] = {
    val reps = words.map { case (w, c) =>
      (scala.collection.mutable.ArrayBuffer(w.map(_.toString): _*), c)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    while (round < k) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long].withDefaultValue(0L)
      reps.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          counts((syms(i), syms(i + 1))) += c
          i += 1
        }
      }
      if (counts.isEmpty) round = k
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        reps.foreach { case (syms, _) => mergeInPlace(syms, best) }
        round += 1
      }
    }
    merges.toSeq
  }

  /** Leftmost non-overlapping merge of `pair` in `syms` — after a merge
    * at i the scan continues at i+1, matching the double-space string
    * replace the oracle runs. */
  private def mergeInPlace(
      syms: scala.collection.mutable.ArrayBuffer[String],
      pair: (String, String)): Unit = {
    var i = 0
    while (i < syms.length - 1) {
      if (syms(i) == pair._1 && syms(i + 1) == pair._2) {
        syms(i) = pair._1 + pair._2
        syms.remove(i + 1)
      }
      i += 1
    }
  }

  /** Tokenize one word through the merge table in rank order. */
  private[graft] def applyMerges(word: String,
      merges: Seq[(String, String)]): Seq[String] = {
    val syms = scala.collection.mutable.ArrayBuffer(word.map(_.toString): _*)
    merges.foreach(m => mergeInPlace(syms, m))
    syms.toSeq
  }

  /** The full train pipeline: corpus pass → capped frequency table →
    * merge rounds. Shared by both registered rows (apply re-derives
    * the table rather than reading a side channel, so each row is
    * self-contained under the driver contract). The capped table is
    * BOUNDED (MaxWords rows at any corpus size), so it is collected and
    * folded locally — the HF/sentencepiece shape. */
  private[graft] def mergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    trainMerges(
      wordCounts(s, dir)
        .orderBy(col("cnt").desc, col("word"))
        .limit(MaxWords)
        .collect() // BOUNDED: MaxWords rows by construction
        .map(r => (r.getString(0), r.getLong(1))).toSeq,
      Merges)

  // ---- generated DuckDB oracle ----

  private def trainStages: String = (1 to Merges).map { i =>
    val p = i - 1
    s"""p$i AS MATERIALIZED (SELECT l[pos] AS a, l[pos+1] AS b, SUM(cnt) AS c
       |  FROM (SELECT string_split(trim(rep), '  ') AS l, cnt FROM r$p) s, UNNEST(range(1, len(s.l))) AS u(pos)
       |  GROUP BY 1, 2),
       |b$i AS MATERIALIZED (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
       |r$i AS MATERIALIZED (SELECT replace(rep, ' '||a||'  '||b||' ', ' '||a||b||' ') AS rep, cnt FROM r$p, b$i)"""
      .stripMargin
  }.mkString(",\n")

  private def trainPrefix: String =
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT lower(t.w) AS word, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(w)
       |  WHERE regexp_matches(lower(t.w), '^[a-z]+$$')
       |  GROUP BY 1),
       |wcap AS MATERIALIZED (SELECT word, cnt FROM w0 ORDER BY cnt DESC, word LIMIT $MaxWords),
       |r0 AS MATERIALIZED (SELECT ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS rep, cnt FROM wcap),
       |""".stripMargin + trainStages

  private def trainOracle: String = {
    val union = (1 to Merges)
      .map(i => s"SELECT $i AS mrank, a AS lhs, b AS rhs, a||b AS merged FROM b$i")
      .mkString("\nUNION ALL ")
    s"$trainPrefix\nSELECT * FROM (\n$union) ORDER BY mrank"
  }

  private def applyOracle: String = {
    val astages = (1 to Merges).map { i =>
      s"a$i AS MATERIALIZED (SELECT word, replace(rep, ' '||a||'  '||b||' ', ' '||a||b||' ') AS rep FROM a${i - 1}, b$i)"
    }.mkString(",\n")
    s"""$trainPrefix,
       |a0 AS MATERIALIZED (SELECT word, ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS rep FROM w0),
       |$astages,
       |wtok AS MATERIALIZED (SELECT word, CAST(len(string_split(trim(rep), '  ')) AS BIGINT) AS n_sub FROM a$Merges),
       |docw AS (SELECT d.doc_id, lower(t.w) AS word
       |  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(w)
       |  WHERE regexp_matches(lower(t.w), '^[a-z]+$$'))
       |SELECT dw.doc_id, CAST(SUM(wt.n_sub) AS BIGINT) AS n_subtokens
       |FROM docw dw JOIN wtok wt USING (word)
       |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin
  }

  /** BPE TRAIN as a registered row: the merge table itself is the
    * output, hash-gated rank by rank against DuckDB's K-stage chain. */
  val llmBpeTrain: Q = Q("llm_bpe_train", trainOracle) { (s, dir) =>
    import s.implicits._
    mergesFor(s, dir).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b, a + b) }
      .toDF("mrank", "lhs", "rhs", "merged")
      .orderBy("mrank")
  }

  /** BPE APPLY as a registered row: per-doc subword token counts under
    * the learned merges — the number every packing/mixing operator
    * should consume. The merge loop runs on the DISTINCT-words frame
    * only (vocab-sized, merges broadcast via the UDF closure); the
    * corpus reduces to (doc_id, word, n_occ) and joins the vocab frame
    * on word (broadcastable at any realistic vocab). Docs with no
    * normalized words have no token count (absent row, both sides). */
  val llmBpeApply: Q = Q("llm_bpe_apply", applyOracle) { (s, dir) =>
    val merges = mergesFor(s, dir)
    val nSub = udf((w: String) => applyMerges(w, merges).length.toLong)
    val docw = documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), lower(col("w")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n_occ"))
    val wtok = docw.select("word").distinct()
      .withColumn("n_sub", nSub(col("word")))
    docw.join(wtok, "word")
      .groupBy("doc_id")
      .agg(sum(col("n_occ") * col("n_sub")).as("n_subtokens"))
      .orderBy("doc_id")
  }

  /** [[TextOps.llmPackSequences]]' hierarchical packer fed SUBWORD
    * counts instead of whitespace counts — the optional subword mode
    * (spec-pinned structurally ≡ the whitespace mode; not a registered
    * row because llm_bpe_apply already hash-gates the counts and
    * llm_pack_sequences the packer). */
  private[graft] def packSequencesSubword(s: SparkSession,
      dir: String): DataFrame = {
    val counts = llmBpeApply.build(s, dir)
      .withColumnRenamed("n_subtokens", "n_tokens")
    TextOps.packSequencesHierarchical(
      documents(s, dir).select(col("doc_id"), col("source"))
        .join(counts, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tokens")))
  }

  def all: Seq[Q] = Seq(llmBpeTrain, llmBpeApply)
}
