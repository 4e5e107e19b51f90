package graft

import graft.ops.{Bpe, TextOps}
import org.apache.spark.sql.functions._

/** Reference-BPE semantics of ops/Bpe.scala: known merges on a
  * handcrafted frequency table, leftmost-non-overlap application, the
  * lossless concatenation invariant, and the subword packing mode's
  * structural equivalence to the whitespace mode. */
class BpeSpec extends SparkSpec {

  test("train learns the reference merge sequence on a known table") {
    // 'lower' x10, 'lowest' x6, 'newer' x8 — hand-follow Sennrich:
    // round 1: (w,e)=24 (in all three words) beats (e,r)=18, (l,o)=16
    // round 2: (we,r)=10+8=18 beats (l,o)=16
    // round 3: (l,o)=16 beats (o,wer)=10, (n,e)=(e,wer)=8
    // round 4: (lo,wer)=10 beats (n,e)=(e,wer)=8
    val words = Seq(("lower", 10L), ("lowest", 6L), ("newer", 8L))
    val merges = Bpe.trainMerges(words, 4)
    assert(merges == Seq(("w", "e"), ("we", "r"), ("l", "o"), ("lo", "wer")))
  }

  test("apply is leftmost non-overlapping and lossless") {
    // (a,a) on aaaa merges non-overlapping pairs: aa|aa, not aa|a|a
    assert(Bpe.applyMerges("aaaa", Seq(("a", "a"))) == Seq("aa", "aa"))
    assert(Bpe.applyMerges("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // rank order matters: later merges see earlier merges' symbols
    assert(Bpe.applyMerges("abab", Seq(("a", "b"), ("ab", "ab"))) == Seq("abab"))
    // concatenation invariant: tokenization never loses characters
    val merges = Seq(("e", "r"), ("w", "er"), ("l", "o"), ("lo", "wer"))
    Seq("lower", "lowest", "newer", "z", "erer").foreach { w =>
      assert(Bpe.applyMerges(w, merges).mkString == w)
    }
  }

  test("registered rows: merge table is well-formed, counts conserve") {
    val dir = "/root/testdata/sf0.001"
    val table = Bpe.llmBpeTrain.build(spark, dir).collect()
    assert(table.length == Bpe.Merges)
    assert(table.map(_.getInt(0)).toSeq == (1 to Bpe.Merges))
    table.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
    // subword count <= character count and >= 1 per counted word;
    // whitespace word count <= subword count (merging never splits)
    val applied = Bpe.llmBpeApply.build(spark, dir)
    val words = graft.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), lower(col("w")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(length(col("word"))).as("n_chars"))
    val joined = applied.join(words, "doc_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (nSub, nWords, nChars) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSub >= nWords && nSub <= nChars,
        s"doc ${r.get(0)}: $nWords words <= $nSub subtokens <= $nChars chars violated")
    }
  }

  test("subword packing mode is structurally = the whitespace mode") {
    val dir = "/root/testdata/sf0.001"
    val sub = Bpe.packSequencesSubword(spark, dir)
    val ws = TextOps.llmPackSequences.build(spark, dir)
    assert(sub.schema.fieldNames.toSeq == ws.schema.fieldNames.toSeq)
    // same packing invariants, independent of the token counter: within
    // each source, offsets are contiguous (next start = prev start +
    // prev tokens) and seq_no/seq_off decompose start_off base 256
    Seq(sub, ws).foreach { df =>
      val rows = df.orderBy("source", "doc_id")
        .select("source", "n_tokens", "start_off", "seq_no", "seq_off")
        .collect()
      var prev: Option[(String, Long, Long)] = None
      rows.foreach { r =>
        val (src, n, off) = (r.getString(0), r.getLong(1), r.getLong(2))
        prev match {
          case Some((psrc, pn, poff)) if psrc == src =>
            assert(off == poff + pn, s"gap in $src at offset $off")
          case _ => assert(off == 0L, s"source $src does not start at 0")
        }
        assert(r.getLong(3) == off / 256 && r.getLong(4) == off % 256)
        prev = Some((src, n, off))
      }
    }
    // and the two modes pack DIFFERENT token counts (subword > word
    // count corpus-wide) — the mode is real, not an alias
    val subTotal = sub.agg(sum("n_tokens")).head().getLong(0)
    val wsTotal = ws.agg(sum("n_tokens")).head().getLong(0)
    assert(subTotal != wsTotal)
  }
}
