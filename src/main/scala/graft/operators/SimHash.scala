package graft.operators

import graft.Partitioning._
import graft.Substrate
import graft.functions.Hashing.h64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: a 64-bit signature per document
  * from its shingle hashes (majority vote per bit), then byte-banded
  * candidate generation (8 bands of 8 bits — pigeonhole: any pair at
  * Hamming ≤ 7 shares a whole byte, so recall is EXACT for the
  * HammingMax=4 contract) and exact Hamming filtering. Signature state
  * per doc is one int64, so the whole pipeline is groupBy/join shuffles
  * on uniform keys.
  *
  * Note: the feature hash (md5-derived h64) carries 60 bits of entropy,
  * so bits 60–63 of the signature are constant-zero in both engines —
  * harmless (they vote unanimously) and cross-engine identical.
  */
object SimHash {

  val Bits = 64
  val Bands = 8
  val HammingMax = 4

  /** Per-doc 64-bit simhash from distinct shingle features.
    *
    * One aggregation, NO bit explode: the ±1 vote sum for bit b is
    * `2·ones(b) − n`, so the majority test `s > 0` is exactly
    * `2·ones(b) > n` — 64 popcount-style sums + one count per doc,
    * all partial-aggregable, instead of fanning every shingle out
    * 64×. Values are identical to the explode formulation (and the
    * oracle, which keeps the ±1 formulation). */
  def signatures(sh: DataFrame): DataFrame = {
    val th = sh.withColumn("h", h64(col("shingle")))
    val ones = (0 until Bits).map(b =>
      sum(expr(s"shiftright(h, $b) & 1")).as(s"o$b"))
    val aggs = ones :+ count(lit(1)).as("n")
    th.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until Bits).map(b =>
          when(col(s"o$b") * 2 > col("n"), lit(1L << b)).otherwise(0L))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** #10: near-dup pairs at Hamming distance ≤ `HammingMax`. Byte
    * buckets get the same hot-bucket cap as the MinHash bands — simhash
    * bytes are NOT uniform (boilerplate corpora share bytes), so one
    * hot byte would fan the self-join out quadratically. */
  def nearDupPairs(spark: SparkSession, dir: String,
                   maxBucket: Int = MinHashLSH.MaxBucketSize): DataFrame =
    nearDupPairsOfSignatures(Substrate.shsig(spark, dir), maxBucket)

  /** #10 over an arbitrary (doc_id, shingle) frame. */
  def nearDupPairsOfShingles(sh: DataFrame,
                             maxBucket: Int = MinHashLSH.MaxBucketSize): DataFrame =
    nearDupPairsOfSignatures(signatures(sh), maxBucket)

  /** Banding + exact-Hamming stage over a precomputed (doc_id, simhash)
    * frame — the seam a fused signature kernel (ByteSimHash) plugs into
    * without touching the proven candidate-generation code. */
  def nearDupPairsOfSignatures(sig: DataFrame,
                               maxBucket: Int = MinHashLSH.MaxBucketSize): DataFrame =
    candidateHamming(sig, maxBucket)
      .filter(col("hd") <= HammingMax)
      .select("d1", "d2", "hd")
      .orderBy("d1", "d2")

  /** Every byte-band candidate pair with its EXACT Hamming distance —
    * the unfiltered frame [[nearDupPairsOfSignatures]] gates at
    * [[HammingMax]] and [[hammingProfile]] histograms whole (the
    * snCandidatesOf discipline: rejected candidates are the tuning
    * panel's data). */
  private[operators] def candidateHamming(sig: DataFrame,
                                          maxBucket: Int): DataFrame =
    candidateHammingOfBands(cappedBands(sig, maxBucket))

  /** [[candidateHamming]] over a prebuilt (already capped) band frame
    * — lets the funnel count and join ONE checkpointed band stage. */
  private[operators] def candidateHammingOfBands(bands: DataFrame): DataFrame = {
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.byte") === col("y.byte") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("x.simhash").as("s1"),
              col("y.doc_id").as("d2"), col("y.simhash").as("s2"))
      .distinct()
      .withColumn("hd", expr("cast(bit_count(s1 ^ s2) as bigint)"))
  }

  /** (doc_id, simhash, band, byte) rows surviving the hot-bucket cap —
    * the blocking stage [[candidateHamming]] self-joins; exposed so
    * the per-family funnels can count it without a second pass. The
    * size window hash-partitions on (band, byte), the same key the
    * candidate join shuffles on. */
  private[operators] def cappedBands(sig: DataFrame, maxBucket: Int): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("band", "byte")
    sig.withColumn("band", explode(sequence(lit(0), lit(Bands - 1))))
      .withColumn("byte", expr("shiftright(simhash, 8 * band) & 255"))
      .withColumn("bsz", count(lit(1)).over(wB))
      .filter(col("bsz") <= maxBucket)
      .drop("bsz")
  }

  /** `dedup_simhash_profile`: the HammingMax tuning curve — the simhash
    * twin of #175's Jaccard threshold curve: over the SAME byte-band
    * candidates the accept gate sees, per observed Hamming distance:
    * pairs at that distance, pairs a threshold ≤ h would accept
    * (cumulative), docs whose NEAREST candidate sits at that distance,
    * and docs a threshold ≤ h would flag (cumulative of the per-doc
    * min — never a per-band sum, which double-counts). Reading: accept
    * up to the distance where pairs_at_h stops cliff-diving; beyond it
    * is bit-noise. Candidates are the capped byte-band join (linear by
    * construction); both cumulative windows run over ≤ 65 aggregate
    * rows. */
  def hammingProfile(spark: SparkSession, dir: String,
                     maxBucket: Int = MinHashLSH.MaxBucketSize): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("hd")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cand = candidateHamming(Substrate.shsig(spark, dir), maxBucket)
      .select("d1", "d2", "hd")
      .checkpointSer // feeds both histograms; one candidate pass
    val hist = cand.groupBy("hd").agg(count(lit(1)).as("n_pairs"))
    val docMin = cand
      .select(explode(array(col("d1"), col("d2"))).as("doc_id"), col("hd"))
      .groupBy("doc_id").agg(min("hd").as("hd"))
      .groupBy("hd").agg(count(lit(1)).as("n_docs_min"))
    hist.join(docMin, Seq("hd"), "left")
      .withColumn("n_docs_min", coalesce(col("n_docs_min"), lit(0L)))
      .select(col("hd"), col("n_pairs"),
        sum("n_pairs").over(w).as("pairs_at_h"),
        col("n_docs_min"),
        sum("n_docs_min").over(w).as("docs_at_h"))
      .orderBy("hd")
  }
}
