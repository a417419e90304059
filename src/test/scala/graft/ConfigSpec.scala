package graft

/** GraftConfig mirrors config.ts: same defaults, same validation
  * failures (DedupJobSpec checks that the parsed values drive the
  * dedup job). */
class ConfigSpec extends SparkSpec {

  test("defaults match the reference") {
    val d = GraftConfig.deduplication(spark)
    assert(d.windowSeconds == 3600.0 && d.ignoredProperties.isEmpty)
    assert(d.windowUs == graft.operators.Dedup.WindowUs)
    val c = GraftConfig.cacheRebuild(spark)
    assert(c.cacheWindowSeconds == 172800.0 && !c.disableRebuild && c.warmupEnabled)
    assert(c.cacheWindowUs == graft.operators.Dedup.CacheWindowUs)
  }

  test("windows parse fractional seconds; invalid values fail startup") {
    withConf(GraftConfig.DedupWindowKey -> "1.5") {
      assert(GraftConfig.deduplication(spark).windowUs == 1500000L)
    }
    for (bad <- Seq("-1", "NaN", "Infinity", "soon"))
      withConf(GraftConfig.DedupWindowKey -> bad) {
        intercept[IllegalArgumentException](GraftConfig.deduplication(spark))
      }
    // parseFloat semantics (config.ts:71): leading whitespace skipped,
    // trailing garbage ignored, hex reads its leading "0"
    withConf(GraftConfig.DedupWindowKey -> " 1.5s") {
      assert(GraftConfig.deduplication(spark).windowUs == 1500000L)
    }
    withConf(GraftConfig.DedupWindowKey -> "0x1p3") {
      assert(GraftConfig.deduplication(spark).windowSeconds == 0.0)
    }
  }

  test("ignored properties: JSON string array only, like the reference") {
    withConf(GraftConfig.IgnoredPropsKey -> """["k", "mqttTopic"]""") {
      assert(GraftConfig.deduplication(spark).ignoredProperties == Seq("k", "mqttTopic"))
    }
    for (bad <- Seq("not json", """{"k":1}""", """["a", 3]""", "42"))
      withConf(GraftConfig.IgnoredPropsKey -> bad) {
        intercept[IllegalArgumentException](GraftConfig.deduplication(spark))
      }
  }

  test("cacheWindow <= 0 and the disable toggle both turn warm-up off") {
    withConf(GraftConfig.CacheWindowKey -> "0") {
      assert(!GraftConfig.cacheRebuild(spark).warmupEnabled)
    }
    withConf(GraftConfig.DisableRebuildKey -> "true") {
      assert(!GraftConfig.cacheRebuild(spark).warmupEnabled)
    }
    withConf(GraftConfig.DisableRebuildKey -> "yes") {
      intercept[IllegalArgumentException](GraftConfig.cacheRebuild(spark))
    }
  }
}
