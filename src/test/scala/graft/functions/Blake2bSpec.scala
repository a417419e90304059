package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BLAKE2b-512 digest parity with the reference's createHasher
  * (deduplication.ts:11-40): the primitive is pinned to the RFC 7693
  * published test vectors (the same algorithm Node's
  * createHash("BLAKE2b512") runs), and the composition — payload bytes
  * ‖ UTF-8 safe-stable-stringify(kept properties) — is pinned through
  * the Spark column stack against the direct byte-level computation. */
class Blake2bSpec extends SparkSpec {

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("RFC 7693 test vectors: empty input and 'abc'") {
    // the RFC's BLAKE2b-512 self-test values, also reproduced by
    // `node -e 'crypto.createHash("BLAKE2b512")...'`
    assert(hex(Blake2b.hash512(Array.emptyByteArray)) ===
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419" +
      "d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce")
    assert(hex(Blake2b.hash512("abc".getBytes("UTF-8"))) ===
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d1" +
      "7d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
  }

  test("multi-block input (> 128 bytes) chains compressions correctly") {
    val big = Array.fill[Byte](300)(0x61) // 300 × 'a', spans 3 blocks
    // self-consistency across the block boundary path: prefix property
    // does NOT hold for hashes, so pin incremental structure instead —
    // equal input equal digest, different length different digest
    assert(hex(Blake2b.hash512(big)) === hex(Blake2b.hash512(big.clone())))
    assert(hex(Blake2b.hash512(big)) !== hex(Blake2b.hash512(big.take(128))))
    assert(hex(Blake2b.hash512(big.take(128))) !== hex(Blake2b.hash512(big.take(127))))
  }

  test("createHasher composition: payload ++ stable-stringified kept props") {
    import spark.implicits._
    val df = Seq(
      ("hello", Map("b" -> "2", "a" -> "1", "ts" -> "9")),
      ("", Map.empty[String, String])
    ).toDF("s", "properties")
      .select(encode(col("s"), "UTF-8").as("payload"), col("properties"))
    val got = df.select(
      Hashing.envelopeDigestBlake2b(col("payload"), col("properties"),
        ignored = Seq("ts")).as("d"))
      .collect().map(r => hex(r.getAs[Array[Byte]]("d")))
    // the reference concatenates payload bytes with the UTF-8 bytes of
    // safe-stable-stringify(kept props): sorted keys, JSON escaping,
    // {} for the empty bag (deduplication.ts:17-29)
    val want = Seq(
      hex(Blake2b.hash512("hello{\"a\":\"1\",\"b\":\"2\"}".getBytes("UTF-8"))),
      hex(Blake2b.hash512("{}".getBytes("UTF-8"))))
    assert(got.toSeq === want)
  }

  test("stableStringifyProps sorts keys, escapes JSON, drops ignored") {
    import spark.implicits._
    val out = Seq(Map("z" -> "last", "a" -> "he said \"hi\"", "drop" -> "x"))
      .toDF("m")
      .select(Hashing.stableStringifyProps(col("m"), Seq("drop")).as("j"))
      .head().getString(0)
    assert(out === """{"a":"he said \"hi\"","z":"last"}""")
  }

  test("blake2b-digested dedup keeps exactly the h64 path's rows") {
    val env = graft.sources.Envelope.fromEvents(spark, sf)
    def kept(algo: String): Set[Long] =
      try {
        spark.conf.set(graft.GraftConfig.DigestKey, algo)
        graft.sources.Envelope.firstOccurrence(env)
          .select("event_id").collect().map(_.getLong(0)).toSet
      } finally spark.conf.unset(graft.GraftConfig.DigestKey)
    val h64Kept = kept("h64")
    val blakeKept = kept("blake2b")
    assert(h64Kept.nonEmpty)
    // any collision-free digest keeps the same first occurrences —
    // the conf flip is semantics-preserving for a migration
    assert(blakeKept === h64Kept)
  }

  test("spark.graft.digest selects the envelope digest algorithm") {
    val env = graft.sources.Envelope.fromEvents(spark, sf).limit(5)
    try {
      spark.conf.set(graft.GraftConfig.DigestKey, "blake2b")
      val d = env.select(graft.sources.Envelope.digestFor(spark).as("d")).head()
      assert(d.getAs[Array[Byte]]("d").length === 64)
      spark.conf.set(graft.GraftConfig.DigestKey, "h64")
      val h = env.select(graft.sources.Envelope.digestFor(spark).as("d")).head()
      assert(h.get(0).isInstanceOf[Long])
      spark.conf.set(graft.GraftConfig.DigestKey, "md5")
      intercept[IllegalArgumentException] {
        graft.GraftConfig.digestAlgorithm(spark)
      }
    } finally spark.conf.unset(graft.GraftConfig.DigestKey)
  }
}
