package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.checks.RowCountCheck
import graft.stream.StreamingSuite

/** The checkpoint-file contract that [[Sessions.builder]] relies on when
  * it selects Spark's FileSystem-based checkpoint manager: atomic,
  * no-overwrite publishing, clean cancellation, exactly-once windows
  * across a restart, and both checksum layers on the state files. */
class CheckpointFilesSpec extends SparkSpec {

  private def manager(dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), spark.sessionState.newHadoopConf())

  private def names(dir: String): Seq[String] = {
    val s = JFiles.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  test("sessions publish checkpoint files through the FileSystem-based manager") {
    assert(manager(Files.tmp("graft-ckpt-fm")).isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("an atomic write never replaces an existing file, and cancel leaves nothing") {
    val dir = Files.tmp("graft-ckpt-atomic")
    val fm = manager(dir)
    def open(name: String, body: String, overwrite: Boolean) = {
      val out = fm.createAtomic(new Path(s"$dir/$name"), overwriteIfPossible = overwrite)
      out.write(body.getBytes(StandardCharsets.UTF_8))
      out
    }
    open("1", "first", overwrite = false).close()
    val second = open("1", "second", overwrite = false)
    intercept[FileAlreadyExistsException](second.close())
    assert(JFiles.readString(Paths.get(s"$dir/1")) == "first")

    val before = names(dir)
    open("2", "cancelled", overwrite = true).cancel()
    assert(names(dir) == before, "cancel left a file behind")
  }

  test("a restarted suite emits each closed window once and keeps both checksum layers") {
    val in = Files.tmp("graft-ckpt-in")
    val ckpt = Files.tmp("graft-ckpt-suite")
    val emitted = mutable.Buffer[(Instant, Long)]()
    // Written aside and moved in, so the file source never lists a partial file.
    def land(name: String, minutes: Int*): Unit = {
      val tmp = JFiles.createTempFile("graft-ckpt-land", ".json")
      JFiles.writeString(tmp, minutes
        .map(m => f"""{"ts":"2026-01-01T10:$m%02d:00","value":1.0}""").mkString("\n"))
      JFiles.move(tmp, Paths.get(s"$in/$name.json"))
    }
    def start() = StreamingSuite.writer(
      spark.readStream.schema("ts TIMESTAMP, value DOUBLE").json(in),
      "ts", "5 minutes", "5 minutes", Seq(RowCountCheck()), "graft-ckpt-restart") {
      (w, rs) => emitted.synchronized { emitted += (w.toInstant -> rs.head.elementCount) }
    }.option("checkpointLocation", ckpt).start()
    def window(minute: Int) = Instant.parse(f"2026-01-01T10:$minute%02d:00Z")

    val first = start()
    try {
      land("0", 0, 2, 4)
      first.processAllAvailable()
      // 10:11 moves the watermark to 10:06 and closes the 10:00 window;
      // the 10:10 window stays open in the state store.
      land("1", 11)
      first.processAllAvailable()
      assert(emitted == Seq(window(0) -> 3L))
    } finally first.stop()

    val second = start()
    try {
      // 10:01 is behind the restored watermark and is dropped; 10:21
      // closes the 10:10 window, whose one row was restored from state.
      land("2", 1, 21)
      second.processAllAvailable()
      assert(emitted == Seq(window(0) -> 3L, window(10) -> 1L))
    } finally second.stop()

    val partitions = names(s"$ckpt/state/0").map(p => s"$ckpt/state/0/$p")
      .filter(p => JFiles.isDirectory(Paths.get(p)))
    val stateFiles = partitions.flatMap(names)
    assert(stateFiles.exists(_.matches("""\d+\.delta\.crc""")),
      s"no Spark checkpoint checksum in $stateFiles")
    assert(stateFiles.exists(_.matches("""\.\d+\.delta\.crc""")),
      s"no Hadoop .crc sidecar in $stateFiles")
  }
}
