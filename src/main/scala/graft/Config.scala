package graft

import org.apache.spark.sql.SparkSession

/** The reference's configuration surface (config.ts) mapped onto Spark
  * session conf — same keys' semantics, same defaults, same validation
  * failures.
  *
  *   DEDUPLICATION_WINDOW_IN_SECONDS  → spark.graft.deduplication.windowSeconds
  *   DEDUPLICATION_IGNORED_PROPERTIES → spark.graft.deduplication.ignoredProperties
  *   CACHE_WINDOW_IN_SECONDS          → spark.graft.cache.windowSeconds
  *   CACHE_REBUILD_DISABLE_SEEK       → spark.graft.cache.disableRebuild
  *
  * Mirrored rules (config.ts:68-111,113-140):
  *   - window values are optional non-negative finite floats (fractional
  *     seconds allowed; negative/NaN/Inf/garbage → error);
  *   - ignored properties is a stringified JSON array holding only
  *     strings (anything else → error — the reference fails startup
  *     rather than silently hashing with the wrong identity);
  *   - cacheWindow <= 0 disables warm-up (cacheBuilding.ts:72-79), as
  *     does the disable toggle.
  *
  * Client security/transport keys (config.ts:142-229) are VALIDATED
  * here with the reference's grammar and surfaced as a typed config —
  * in a Spark deployment the actual transport is the cluster's (the
  * broker connector or the platform's TLS/auth applies them), so these
  * keys exist to fail startup on the same inputs the reference fails
  * on, not to open sockets:
  *
  *   PULSAR_OAUTH2_ISSUER_URL      → spark.graft.client.oauth2.issuerUrl
  *   PULSAR_OAUTH2_KEY_PATH        → spark.graft.client.oauth2.keyPath
  *   PULSAR_OAUTH2_AUDIENCE        → spark.graft.client.oauth2.audience
  *   PULSAR_TLS_VALIDATE_HOSTNAME  → spark.graft.client.tlsValidateHostname
  *   PULSAR_COMPRESSION_TYPE       → spark.graft.client.compressionType
  *   PULSAR_BLOCK_IF_QUEUE_FULL    → spark.graft.client.blockIfQueueFull
  */
object GraftConfig {

  val DedupWindowKey = "spark.graft.deduplication.windowSeconds"
  val IgnoredPropsKey = "spark.graft.deduplication.ignoredProperties"
  val CacheWindowKey = "spark.graft.cache.windowSeconds"
  val DisableRebuildKey = "spark.graft.cache.disableRebuild"
  val DigestKey = "spark.graft.digest"
  val Oauth2IssuerUrlKey = "spark.graft.client.oauth2.issuerUrl"
  val Oauth2KeyPathKey = "spark.graft.client.oauth2.keyPath"
  val Oauth2AudienceKey = "spark.graft.client.oauth2.audience"
  val TlsValidateHostnameKey = "spark.graft.client.tlsValidateHostname"
  val CompressionTypeKey = "spark.graft.client.compressionType"
  val BlockIfQueueFullKey = "spark.graft.client.blockIfQueueFull"

  /** Digest algorithm for envelope identity: `h64` (default; BIGINT,
    * DuckDB-oracle-reproducible) or `blake2b` (BINARY(64), reference
    * createHasher parity — see functions.Blake2b). */
  def digestAlgorithm(spark: SparkSession): String =
    spark.conf.getOption(DigestKey).getOrElse("h64") match {
      case v @ ("h64" | "blake2b") => v
      case other => throw new IllegalArgumentException(
        s"""$DigestKey must be either "h64" or "blake2b". Instead, $other was given.""")
    }

  val DefaultDedupWindowSeconds = 3600.0
  val DefaultCacheWindowSeconds = 172800.0

  final case class DeduplicationConfig(windowSeconds: Double,
                                       ignoredProperties: Seq[String]) {
    def windowUs: Long = (windowSeconds * 1e6).toLong
  }

  final case class CacheRebuildConfig(cacheWindowSeconds: Double,
                                      disableRebuild: Boolean) {
    def cacheWindowUs: Long = (cacheWindowSeconds * 1e6).toLong
    /** Warm-up runs only for a positive window with rebuild enabled. */
    def warmupEnabled: Boolean = !disableRebuild && cacheWindowSeconds > 0
  }

  /** JS `parseFloat` (config.ts:71): skip leading whitespace, parse the
    * longest leading decimal/scientific literal, IGNORE any trailing
    * garbage ("1.5abc" → 1.5); no leading literal → NaN. Scala's
    * `toDouble` diverges both ways — it accepts hex floats ("0x1p3" →
    * 8.0 where parseFloat reads 0) and type suffixes as whole-string
    * parses, but throws on the trailing-garbage inputs parseFloat
    * tolerates — so the literal is extracted with parseFloat's own
    * grammar first. */
  private val LeadingFloat = "[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r

  private def nonNegativeFiniteFloat(spark: SparkSession, key: String,
                                     default: Double): Double =
    spark.conf.getOption(key).map { s =>
      def fail() = throw new IllegalArgumentException(
        s"$key must be a non-negative, finite float if given. Instead, $s was given.")
      // "Infinity"/"-Infinity" parse in JS but fail the isFinite check,
      // same terminal outcome as the no-literal NaN path here
      val v = LeadingFloat.findPrefixOf(s.dropWhile(_.isWhitespace))
        .map(_.toString.toDouble).getOrElse(Double.NaN)
      if (v.isNaN || v.isInfinite || v < 0) fail()
      v
    }.getOrElse(default)

  /** Parse the ignored-properties JSON array — a JSON array holding only
    * strings, like the reference's JSON.parse + shape check
    * (config.ts:113-130). json4s ships with Spark. */
  private def parseIgnoredProperties(key: String, s: String): Seq[String] = {
    import org.json4s._
    def fail() = throw new IllegalArgumentException(
      s"$key must be a stringified JSON array holding only strings.")
    val parsed =
      try jackson.JsonMethods.parse(s)
      catch { case _: Exception => fail() }
    parsed match {
      case JArray(items) =>
        items.map {
          case JString(v) => v
          case _          => fail()
        }
      case _ => fail()
    }
  }

  def deduplication(spark: SparkSession): DeduplicationConfig =
    DeduplicationConfig(
      nonNegativeFiniteFloat(spark, DedupWindowKey, DefaultDedupWindowSeconds),
      spark.conf.getOption(IgnoredPropsKey)
        .map(parseIgnoredProperties(IgnoredPropsKey, _))
        .getOrElse(Nil))

  def cacheRebuild(spark: SparkSession): CacheRebuildConfig =
    CacheRebuildConfig(
      nonNegativeFiniteFloat(spark, CacheWindowKey, DefaultCacheWindowSeconds),
      spark.conf.getOption(DisableRebuildKey).map {
        case "true"  => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"""$DisableRebuildKey must be either "false" or "true". Instead, $other was given.""")
      }.getOrElse(false))

  /** OAuth2 client-credentials config (config.ts:142-168): all three
    * keys or none. */
  final case class Oauth2Config(issuerUrl: String, keyPath: String,
                                audience: String) {
    /** The reference hard-codes this (config.ts:161-162). */
    val grantType: String = "client_credentials"
  }

  /** Client transport config (config.ts:198-229): validated with the
    * reference's grammar; applied by the deployment's connector. */
  final case class ClientConfig(oauth2: Option[Oauth2Config],
                                tlsValidateHostname: Boolean,
                                compressionType: String,
                                blockIfQueueFull: Boolean)

  private def optionalBoolean(spark: SparkSession, key: String,
                              default: Boolean): Boolean =
    spark.conf.getOption(key).map {
      case "true"  => true
      case "false" => false
      case _ => throw new IllegalArgumentException(
        s"""$key must be either "false" or "true"""")
    }.getOrElse(default)

  /** OAuth2 keys follow the reference's all-or-none rule
    * (config.ts:147-158): any one present makes all three mandatory. */
  def oauth2(spark: SparkSession): Option[Oauth2Config] = {
    val issuer = spark.conf.getOption(Oauth2IssuerUrlKey)
    val keyPath = spark.conf.getOption(Oauth2KeyPathKey)
    val audience = spark.conf.getOption(Oauth2AudienceKey)
    if (issuer.isEmpty && keyPath.isEmpty && audience.isEmpty) None
    else if (issuer.exists(_.nonEmpty) && keyPath.exists(_.nonEmpty) &&
             audience.exists(_.nonEmpty))
      Some(Oauth2Config(issuer.get, keyPath.get, audience.get))
    else throw new IllegalArgumentException(
      s"If any of $Oauth2IssuerUrlKey, $Oauth2KeyPathKey, " +
        s"$Oauth2AudienceKey is defined, all must be defined.")
  }

  /** Compression type grammar (config.ts:198-213): Zlib | LZ4 | ZSTD |
    * SNAPPY, case-sensitive, default ZSTD. */
  def compressionType(spark: SparkSession): String =
    spark.conf.getOption(CompressionTypeKey).getOrElse("ZSTD") match {
      case v @ ("Zlib" | "LZ4" | "ZSTD" | "SNAPPY") => v
      case _ => throw new IllegalArgumentException(
        s"If defined, $CompressionTypeKey must be one of 'Zlib', 'LZ4', " +
          "'ZSTD' or 'SNAPPY'. Default is 'ZSTD'.")
    }

  def client(spark: SparkSession): ClientConfig =
    ClientConfig(
      oauth2(spark),
      optionalBoolean(spark, TlsValidateHostnameKey, default = true),
      compressionType(spark),
      optionalBoolean(spark, BlockIfQueueFullKey, default = true))

  /** The configured batch dedup pipeline in one call: digest with the
    * configured ignored properties, then `Dedup.chainNative` at the
    * configured TTL window. The cache window and the warm-up toggle are
    * not read here. */
  def configuredDedup(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val dc = deduplication(spark)
    operators.Dedup.chainNative(
      operators.Dedup.hashedStream(spark, dir, dc.ignoredProperties),
      dc.windowUs)
  }
}
