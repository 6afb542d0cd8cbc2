package graft

import graft.ext.Dedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit, raise_error, when}

/** Cache hygiene of the pin policy: a lazy build registers no cache,
  * and an eager cache→count→pin releases its cache even when the
  * count fails. */
class PinSpec extends SparkSpec {

  private val docs = df(Seq(
    Row(1L, "the quick brown fox jumps over the lazy dog"),
    Row(2L, "the quick brown fox jumps over the lazy cat"),
    Row(3L, "completely different content about spark engines")),
    "doc_id BIGINT, text STRING")

  private def cacheManager = spark.sharedState.cacheManager

  test("lazily built jaccard, minhash and simhash pairs cache nothing") {
    cacheManager.clearCache()
    Pin.lazily {
      Dedup.jaccardPairs(docs, n = 3)
      Dedup.minhashPairs(docs, n = 3, bands = 8)
      Dedup.simhashPairs(docs, n = 3, maxHamming = 6)
    }
    assert(cacheManager.isEmpty)
  }

  test("an eager pin whose count fails leaves no cached entry") {
    cacheManager.clearCache()
    val poisoned = docs.withColumn("text",
      when(col("doc_id") === 2L, raise_error(lit("poisoned row")))
        .otherwise(col("text")))
    val e = intercept[Exception](Dedup.jaccardPairs(poisoned, n = 3))
    assert(e.getMessage.contains("poisoned row"))
    assert(cacheManager.isEmpty)
  }
}
