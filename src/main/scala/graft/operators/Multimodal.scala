package graft.operators

import graft.Partitioning._
import graft.{Substrate, Tables}
import graft.functions.Hashing.h64
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media assets ride through the pipeline as
  * opaque `binary` columns with typed metadata alongside. The Spark-side
  * mechanics (schema, batching, partition-parallel decode) are real; the
  * media decode kernel itself is STUBBED deterministically because no
  * image/audio libraries exist in this environment — swap
  * `decodeKernel` for a real decoder (JNI/FFI) in production.
  */
object Multimodal {

  /** documents with a real binary payload column (UTF-8 bytes stand in
    * for media bytes — the plumbing is format-agnostic). */
  def withPayload(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))

  /** #18: typed metadata extracted from the binary column — byte
    * length, content checksum, magic-byte sniff. Pure expressions over
    * binary (codegen'd); the scan only reads doc_id+text. */
  def meta(spark: SparkSession, dir: String): DataFrame =
    withPayload(spark, dir).select(
      col("doc_id"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      h64(col("payload")).as("checksum"),
      lower(hex(substring(col("payload"), 1, 4))).as("magic_hex")
    ).orderBy("doc_id")

  /** Exact dedup at the BINARY grain — the multimodal twin of
    * dedup_exact_docs, with NO normalization: media bytes either match
    * or don't. Per-asset manifest: content checksum, byte length, the
    * group's keeper (min doc_id over identical bytes) and the copy
    * flag. One shuffle on the uniform checksum. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupOf(withPayload(spark, dir).select("doc_id", "payload"))

  /** Same, over any (doc_id, payload) frame. The checksum is the FULL
    * 128-bit md5 hex (not the 60-bit h64): at multimodal corpus scale
    * (2³⁰⁺ assets) a 60-bit key has birthday collisions, and a
    * collision here silently merges byte-different assets into one
    * "exact" group — the one dedup tier where a false merge is data
    * loss with no verify step behind it. */
  def exactDedupOf(assets: DataFrame): DataFrame = {
    val wC = org.apache.spark.sql.expressions.Window.partitionBy("checksum")
    assets
      .select(col("doc_id"), md5(col("payload")).as("checksum"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("keep_doc", min("doc_id").over(wC))
      .select(col("doc_id"), col("checksum"), col("n_bytes"), col("keep_doc"),
        (col("doc_id") =!= col("keep_doc")).as("is_copy"))
      .orderBy("doc_id")
  }

  /** `multimodal_dedup_savings`: the storage-planning rollup over the
    * exact binary-dedup grain — per source feed: asset count, total
    * payload bytes, duplicate assets/bytes (every byte-identical copy
    * beyond the min-doc_id keeper) and the ratio4 share of the feed's
    * bytes dedup reclaims. At a 100 TB media lake this table IS the
    * dedup business case: which feeds re-ship the same assets (CDN
    * mirrors, re-crawls) and how many bytes a content-addressed store
    * saves per feed. Two shuffles, both uniform keys: the checksum
    * window (same grain as [[exactDedup]]) and the O(sources) rollup. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    val wC = org.apache.spark.sql.expressions.Window.partitionBy("checksum")
    withPayload(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("payload")).as("checksum"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("is_copy", col("doc_id") =!= min("doc_id").over(wC))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_assets"),
        sum("n_bytes").as("total_bytes"),
        sum(when(col("is_copy"), 1L).otherwise(0L)).as("dup_assets"),
        sum(when(col("is_copy"), col("n_bytes")).otherwise(0L)).as("dup_bytes"))
      .select(col("source"), col("n_assets"), col("total_bytes"),
        col("dup_assets"), col("dup_bytes"),
        ratio4(col("dup_bytes"), greatest(col("total_bytes"), lit(1L)))
          .as("savings4"))
      .orderBy("source")
  }

  /** Content-defined byte-shingle window (bytes) and sampling modulus
    * for [[nearDupPairs]]: every W-byte window is hashed, and a window
    * is a FEATURE iff h64 % SampleMod == 0 — selection depends only on
    * window CONTENT, so an insertion that shifts every later byte
    * still selects the same features from the unchanged regions (the
    * winnowing/CDC property fixed-stride sampling lacks). */
  val ShingleBytes = 8
  val SampleMod = 8

  /** `multimodal_phash_dedup`: near-dup pairs at the BINARY grain —
    * the approximate member of the multimodal dedup tier (#129 is the
    * exact one). Pipeline: content-defined sampled byte shingles →
    * the SAME 64-bit SimHash + byte-banded blocking + exact Hamming
    * verify the token tier uses (SimHash.nearDupPairsOfShingles —
    * proven kernel, new feature space). A ~10% byte-level edit leaves
    * ~90% of selected features intact → small Hamming distance; real
    * deployments swap the byte shingles for decoded-frame perceptual
    * features at this exact seam (decodeKernel is the stub), keeping
    * every downstream stage unchanged.
    *
    * Cost: O(total payload bytes) window hashes (one narrow pass, no
    * shuffle until the per-doc signature groupBy); the signature is
    * one int64/doc; blocking is the capped byte-band join. */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    SimHash.nearDupPairsOfSignatures(Substrate.phashsig(spark, dir))

  /** [[nearDupPairs]] over any (doc_id, payload) frame. The signature
    * stage is the fused one-pass [[graft.functions.ByteSimHash]] kernel
    * (bit-identical to the hex→explode-window→sample→vote pipeline it
    * replaced, which the DuckDB oracle and ByteSimHashSpec's parity
    * reference keep): zero row amplification, one codegen'd call per
    * payload. Banding/Hamming reuse the proven SimHash stage. */
  def nearDupPairsOf(assets: DataFrame): DataFrame = {
    import graft.functions.ByteSimHash
    val sig = assets
      .select(col("doc_id"),
        ByteSimHash.byteSimHash(col("payload"), ShingleBytes, SampleMod)
          .as("simhash"))
      .filter(col("simhash") =!= ByteSimHash.NoSignature)
    SimHash.nearDupPairsOfSignatures(sig)
  }

  /** `multimodal_phash_funnel`: the cost-observability funnel of the
    * binary-grain near-dup pass — the phash member of the per-family
    * funnel suite (#361 ssjoin, #281 LSH buckets, SN funnel): assets
    * carrying a signature, banded rows surviving the hot-bucket cap
    * (8 per asset minus the hot set the cap drops), distinct
    * candidate pairs from byte-band collisions, and pairs accepted at
    * Hamming ≤ [[SimHash.HammingMax]], with the verify yield. This is
    * the capacity math of the byte-band join released at query level:
    * candidates are bounded by Σ C(bucket, 2) under the cap, and the
    * funnel shows the measured volume per corpus.
    *
    * Shape: the fused one-pass signature kernel, the capped band
    * frame counted once and self-joined once (the SAME frame the
    * operator uses — shared builder, can't drift), all rollups 1-row. */
  def phashFunnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Hashing.ratio4
    // the signature substrate is the session-shared memo (the dedup
    // pair query reads the same frame — one payload pass per session)
    val sig = Substrate.phashsig(spark, dir)
    val bands = SimHash.cappedBands(sig, MinHashLSH.MaxBucketSize)
      .checkpointSer
    val cand = SimHash.candidateHammingOfBands(bands)
      .checkpointSer
    val ac = sig.agg(count(lit(1)).as("n_assets"))
    val bc = bands.agg(count(lit(1)).as("n_banded_rows"))
    val cc = cand.agg(count(lit(1)).as("n_candidates"),
      sum(when(col("hd") <= SimHash.HammingMax, 1L).otherwise(0L))
        .as("n_pairs"))
    ac.crossJoin(bc).crossJoin(cc)
      .select(col("n_assets"), col("n_banded_rows"), col("n_candidates"),
        col("n_pairs"),
        ratio4(col("n_pairs"), greatest(col("n_candidates"), lit(1L)))
          .as("verify_yield4"))
  }

  /** SPEC-ONLY reference: the declarative explode-window signature
    * pipeline the fused kernel replaced — kept so ByteSimHashSpec can
    * pin bit-parity on real corpora. Do not use in queries: it
    * materializes one row + one 2W-char substring per byte offset. */
  private[graft] def explodedSignaturesOf(assets: DataFrame): DataFrame = {
    val w = ShingleBytes
    val sh = assets
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).as("nb"))
      .filter(col("nb") >= w)
      .select(col("doc_id"), col("hx"),
        explode(expr(s"sequence(1, nb - ${w - 1})")).as("i"))
      .select(col("doc_id"),
        expr(s"substring(hx, 2 * (i - 1) + 1, ${2 * w})").as("shingle"))
      .filter(h64(col("shingle")) % SampleMod === 0)
      .select("doc_id", "shingle")
    SimHash.signatures(sh)
  }

  /** Decoded-asset schema a real media decoder would produce. */
  case class DecodedAsset(doc_id: Long, width: Int, height: Int,
                          format: String, n_frames: Int, ok: Boolean)

  /** STUB decode kernel: deterministic fake derived from payload bytes.
    * Replace with a real decoder; the signature (bytes in, typed struct
    * out, executed per-partition with no driver involvement) is the
    * production shape. */
  private[operators] def decodeKernel(docId: Long, payload: Array[Byte]): DecodedAsset = {
    if (payload == null || payload.isEmpty)
      DecodedAsset(docId, 0, 0, "invalid", 0, ok = false)
    else {
      var h = 1125899906842597L // deterministic FNV-ish fold over bytes
      payload.foreach(b => h = h * 31 + (b & 0xff))
      val fmt = (h & 3) match {
        case 0 => "jpeg"; case 1 => "png"; case 2 => "wav"; case _ => "mp4"
      }
      DecodedAsset(docId, 64 + (math.abs(h) % 1856).toInt,
        64 + (math.abs(h >> 11) % 1016).toInt, fmt,
        if (fmt == "mp4") 1 + (math.abs(h >> 23) % 240).toInt else 1, ok = true)
    }
  }

  /** #19: partition-parallel decode of the binary column. Runs as
    * `mapPartitions` so a real kernel can amortize per-batch setup
    * (decoder contexts, pinned buffers) across a whole partition. */
  def decode(spark: SparkSession, dir: String): DataFrame = {
    val src = withPayload(spark, dir).select("doc_id", "payload")
    src.mapPartitions { it =>
      it.map(r => decodeKernel(r.getLong(0), r.getAs[Array[Byte]](1)))
    }(Encoders.product[DecodedAsset]).toDF()
  }

  /** Embedding record produced by the (stubbed) feature extractor. */
  case class EmbeddedAsset(doc_id: Long, embedding: Array[Float])

  /** Feature-extraction plumbing: binary payload → embedding vector,
    * executed per-partition (a real vision/audio encoder would batch
    * here; the kernel is a deterministic byte-fold STUB). The output
    * column is `array<float>` — directly consumable by the Similarity
    * operators (cosine, LSH buckets, ANN top-k). */
  def embedStub(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val src = withPayload(spark, dir).select("doc_id", "payload")
    src.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val v = new Array[Float](dim)
        var h = 1125899906842597L
        var i = 0
        while (i < bytes.length) {
          h = h * 31 + (bytes(i) & 0xff)
          v(i % dim) += ((h % 1024) / 512.0f) - 1.0f
          i += 1
        }
        EmbeddedAsset(id, v)
      }
    }(Encoders.product[EmbeddedAsset]).toDF()
  }

  /** Frame-sampling plumbing over a decoded video asset: one output row
    * per sampled frame index (every `stride`-th frame). Demonstrates the
    * explode-based fan-out a video pipeline needs without materializing
    * frames on the driver. */
  def sampleFrames(decoded: DataFrame, stride: Int = 30): DataFrame =
    decoded.filter(col("format") === "mp4")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select("doc_id", "frame_idx")

  /** Resized-asset record: the transformed payload plus before/after
    * sizes (the audit columns a curation pipeline keeps). */
  case class ResizedAsset(doc_id: Long, n_bytes_in: Long,
                          n_bytes_out: Long, payload: Array[Byte])

  /** Resize/transcode plumbing: binary payload in → smaller binary
    * payload out, per-partition (a real image resizer amortizes codec
    * setup across the partition exactly here). The kernel is a
    * deterministic STUB (keep every `factor`-th byte); the data-flow
    * shape — binary column rewritten in place, audit metadata emitted,
    * no driver materialization — is the production one. */
  def resizeStub(spark: SparkSession, dir: String, factor: Int = 4): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val src = withPayload(spark, dir).select("doc_id", "payload")
    src.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        // same null/empty contract as decodeKernel: emit an auditable
        // zero-byte row, never fail the task on a bad media payload
        if (bytes == null || bytes.isEmpty)
          ResizedAsset(id, 0L, 0L, Array.emptyByteArray)
        else {
          val out = new Array[Byte]((bytes.length + factor - 1) / factor)
          var i = 0
          while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
          ResizedAsset(id, bytes.length.toLong, out.length.toLong, out)
        }
      }
    }(Encoders.product[ResizedAsset]).toDF()
  }
}
