package graft

import org.apache.spark.sql.SparkSession

/** One place to build correctly-configured local sessions for the engine's
  * mains (Verify/Bench/EntrySmoke) and tests, so per-table loaders stay
  * side-effect free (no hidden session-conf mutation in the data path).
  */
object Sessions {

  /** Entries of Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One DQ loop
    * needs more distinct generated classes than 100, so at the default
    * its classes evict one another and every miss pays a Janino compile
    * plus a new class for the JIT to warm up again. Counted with an
    * unbounded cache on the benchmark loops (sf0.1 landings, 4 cores):
    * a `dq_gate` process compiled 123 distinct classes in 27 ops (none
    * after its fourth op), a `curation` process 128 in 25 ops (none after
    * its tenth). 500 holds either loop about four times over.
    * A streaming query compiles one new class per micro-batch at any
    * cache size, so a long-running one fills the cache to this limit.
    * Over 240 `stream_suite` ops (288 classes compiled) the live heap was
    * 83.5 MB at 500 entries against 81.0 MB at 100 (~13 KB per extra
    * entry, ~5 MB with all 500 held), and used metaspace was the same
    * (155.9 vs 156.0 MB). Not an option: the value follows the engine's
    * working set. */
  val CodegenCacheEntries = 500

  /** Session confs the engine requires:
    *  - UTC so ISO-8601 timestamp semantics match the oracle;
    *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which the
    *    vectorized reader rejects without it (nanos surface as long and
    *    [[Tables.events]] floor-divides to micros);
    *  - shuffle partitions sized to the core count, not the 200 default —
    *    at 100 TB this becomes a per-job AQE-advised setting instead;
    *  - parquet aggregate pushdown (off by default upstream): unfiltered
    *    COUNT/MIN/MAX answer from row-group footer statistics instead of
    *    scanning data — the D1/G1 row-count vocabulary on a 100 TB table
    *    becomes a metadata read (measured ~6× at sf0.1 locally);
    *  - a generated-code cache of [[CodegenCacheEntries]].
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Aggregate pushdown only exists on the DataSource V2 read path;
      // parquet defaults to V1 via useV1SourceList. All other pushdowns
      // (filters, pruning) are equivalent on V2.
      .config("spark.sql.sources.useV1SourceList", "")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
