package graft.operators

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.Partitioning._

/** Scale instrumentation for the candidate-pair-bound dedup panels —
  * the diagnostic behind the SN/phash scale watch-list: prints, for a
  * given data dir, the CANDIDATE volumes each family generates, so a
  * cross-SF comparison separates density-driven growth (candidate
  * counts track duplicate density — fine, the work is real) from
  * bucket-occupancy quadratics (candidate counts outrun corpus growth
  * — needs a cap). Both generators are linear BY CONSTRUCTION — SN
  * emits exactly (window−1) adjacencies per rank position, the simhash
  * byte bands are MaxBucketSize-capped — so this probe is the measured
  * evidence, not the safety mechanism.
  *
  * Usage: `graft.operators.ScaleProbe <dir>` → one JSON line.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = GraftSession.local(GraftSession.cpus)
    val docs = Tables.documents(spark, dir).select("doc_id", "text").spread
    val nDocs = docs.count()
    // SN family: unfiltered window adjacencies + accepted pairs, per key
    val snPrefixCand = Blocking.snCandidatesOf(docs).checkpointSer
    val snSuffixCand = Blocking.snCandidatesKeyed(
      docs, Blocking.snKeySuffix(col("text"))).checkpointSer
    def acc(c: org.apache.spark.sql.DataFrame) =
      c.filter(col("jacc4") >= Blocking.SnTau).count()
    // phash family: byte-band candidates before the Hamming gate
    val sig = Multimodal.withPayload(spark, dir).select("doc_id", "payload")
      .select(col("doc_id"),
        graft.functions.ByteSimHash.byteSimHash(col("payload"),
          Multimodal.ShingleBytes, Multimodal.SampleMod).as("simhash"))
      .filter(col("simhash") =!= graft.functions.ByteSimHash.NoSignature)
    val phashCand = SimHash.candidateHamming(sig, MinHashLSH.MaxBucketSize)
      .checkpointSer
    // lexical LSH for context: capped band candidates
    val lshCand = MinHashLSH.candidateJaccard(docs).count()
    // round-13 sf10 watch-list: the superlinear-suspect INPUT volumes —
    // embedding near-dup pairs (semantic components' edge list), chunk
    // instances/groups (chunkDedup's join grain), token stream + vocab
    // (heapsCurve's shuffle mass)
    val embPairs = Similarity.nearDupPairs(spark, dir).count()
    val toks = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val nToks = toks.count()
    val nVocab = toks.distinct().count()
    val out =
      s"""{"dir":"$dir","n_docs":$nDocs,
         |"sn_prefix_candidates":${snPrefixCand.count()},
         |"sn_prefix_accepted":${acc(snPrefixCand)},
         |"sn_suffix_candidates":${snSuffixCand.count()},
         |"sn_suffix_accepted":${acc(snSuffixCand)},
         |"phash_candidates":${phashCand.count()},
         |"phash_accepted":${phashCand.filter(col("hd") <= SimHash.HammingMax).count()},
         |"lsh_candidates":$lshCand,
         |"emb_neardup_pairs":$embPairs,
         |"n_tokens":$nToks,
         |"n_vocab":$nVocab}""".stripMargin.replaceAll("\n", "")
    println(out)
    spark.stop()
  }
}
