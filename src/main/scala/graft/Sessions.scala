package graft

import org.apache.spark.sql.SparkSession

/** One place to build correctly-configured local sessions for the engine's
  * mains (Verify, Bench, Explain, Profile, EntrySmoke) and tests, so
  * per-table loaders stay side-effect free (no hidden session-conf
  * mutation in the data path).
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

  /** The class that publishes streaming checkpoint files (offsets and
    * commits logs, state-store deltas and their checksums): Spark's own
    * FileSystem-based manager rather than its default, the FileContext one.
    *
    * Cost: without the native Hadoop library, `FileContext.rename` resolves
    * links by forking `readlink` (`RawLocalFileSystem.getFileLinkStatus` →
    * `FileUtil.readLink` → `Shell.execCommand`) for the source, the target
    * and both Hadoop `.crc` sidecars: four forks per published file, and a
    * micro-batch publishes about ten files (a delta and a Spark checksum
    * per state partition, an offsets entry, a commits entry). A task that
    * writes state then waits on children for most of its wall time, with
    * no CPU of its own. The FileSystem manager renames with `rename(2)`
    * (`File.renameTo`) and forks nothing for it. Counted with
    * `tools/shellout_census.py` over one `stream_suite` benchmark run
    * (4 cores, seed 44, 10 s loop): 2,400 `readlink` and 626 `chmod`
    * forks in 9 ops with the FileContext manager, no `readlink` and 794
    * `chmod` forks in 13 ops with this one. The `chmod` forks are Hadoop
    * setting the permission of every file it creates; they remain.
    *
    * Safety: both managers publish a file by writing a temporary file and
    * renaming it into place, and a one-file rename is atomic on the local
    * file system and on HDFS. Without overwrite, both refuse an existing
    * target with a `FileAlreadyExistsException`: on the local file system
    * the FileContext rename is the same check-then-rename as this one.
    * Both checksum layers stay: Spark's checkpoint checksums (`1.delta.crc`
    * beside `1.delta`) wrap whichever manager is chosen, and
    * `LocalFileSystem` is still a `ChecksumFileSystem`, so Hadoop's
    * `.1.delta.crc` sidecars are written, renamed and verified as before.
    * `CheckpointFilesSpec` pins this contract. */
  val CheckpointFileManagerClass =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

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
    *  - a generated-code cache of [[CodegenCacheEntries]];
    *  - streaming checkpoints published through Spark's
    *    [[CheckpointFileManagerClass]] (see there).
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
      .config("spark.sql.streaming.checkpointFileManagerClass", CheckpointFileManagerClass)

  /** The core count the mains run on: `SPARK_GRAFT_CPUS`, or every
    * available processor when it is unset. */
  def cpusFromEnv: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
