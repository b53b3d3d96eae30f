package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Files, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.TailStream

class FollowFileSpec extends SparkSpec {

  private val pattern =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<ms__int>\d+)"""

  private def append(f: java.io.File, lines: String*): Unit =
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Drain the follow-file stream via foreachBatch (the memory sink
    * cannot resume from a checkpoint); each call is one AvailableNow
    * run against the same checkpoint — one micro-batch cycle of a
    * continuously-running tail.
    */
  private def runOnce(file: java.io.File, ckpt: java.io.File, name: String,
                      seekToEnd: Boolean = false,
                      maxBytes: Option[Long] = None): Seq[(String, Long)] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val df = LogSource.followFile(spark, file.getAbsolutePath, pattern,
      seekToEnd = seekToEnd, maxBytesPerTrigger = maxBytes)
    val q = df.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.select("level", "ms").collect()
          .foreach(r => buf.add((r.getString(0), r.getLong(1))))
      }
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }

  test("appended lines to the SAME file arrive across triggers, no re-reads") {
    val f = Files.createTempFile("graft-follow", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-follow-ckpt").toFile
    append(f, "2024-01-01 00:00:10 INFO 1")
    assert(runOnce(f, ckpt, "ff1") == Seq(("INFO", 1L)))
    // grow the same file: only the new bytes flow, nothing re-emitted
    append(f, "2024-01-01 00:00:20 WARN 2", "2024-01-01 00:00:30 INFO 3")
    assert(runOnce(f, ckpt, "ff1") == Seq(("WARN", 2L), ("INFO", 3L)))
    // nothing new -> empty batch
    assert(runOnce(f, ckpt, "ff1") == Seq.empty)
  }

  test("a partial line (no trailing newline) waits; its completion emits it whole") {
    val f = Files.createTempFile("graft-part", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-part-ckpt").toFile
    append(f, "2024-01-01 00:00:10 INFO 1")
    Files.write(f.toPath, "2024-01-01 00:00:20 WAR".getBytes("UTF-8"),
      StandardOpenOption.APPEND) // half-written line, writer mid-flush
    assert(runOnce(f, ckpt, "ff2") == Seq(("INFO", 1L)))
    Files.write(f.toPath, "N 2\n".getBytes("UTF-8"), StandardOpenOption.APPEND)
    assert(runOnce(f, ckpt, "ff2") == Seq(("WARN", 2L)))
  }

  test("truncation reopens from byte 0 (rotation), not from the stale offset") {
    val f = Files.createTempFile("graft-rot", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-rot-ckpt").toFile
    append(f, "2024-01-01 00:00:10 INFO 1", "2024-01-01 00:00:20 INFO 2")
    assert(runOnce(f, ckpt, "ff3").size == 2)
    // logrotate copytruncate: same path, file restarts small
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(0) finally raf.close()
    append(f, "2024-01-01 00:01:00 ERROR 9")
    assert(runOnce(f, ckpt, "ff3") == Seq(("ERROR", 9L)))
  }

  test("seekToEnd skips existing content, byte-exact") {
    val f = Files.createTempFile("graft-seek", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-seekf-ckpt").toFile
    append(f, "2024-01-01 00:00:10 INFO 1") // pre-existing: must be skipped
    assert(runOnce(f, ckpt, "ff4", seekToEnd = true) == Seq.empty)
    append(f, "2024-01-01 00:00:20 WARN 2")
    assert(runOnce(f, ckpt, "ff4", seekToEnd = true) == Seq(("WARN", 2L)))
  }

  test("maxBytesPerTrigger paces a large append over several batches, line-floored") {
    val f = Files.createTempFile("graft-cap", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-cap-ckpt").toFile
    val lines = (1 to 50).map(i => f"2024-01-01 00:00:${i % 60}%02d INFO $i")
    append(f, lines: _*)
    // each line is 26 bytes + newline; cap at ~10 lines per batch.
    // AvailableNow drains ALL batches in one run, so the observable
    // contract here is: everything arrives, exactly once, in order.
    val out = runOnce(f, ckpt, "ff5", maxBytes = Some(270L))
    assert(out.map(_._2) == (1 to 50).map(_.toLong), out.toString)
  }

  test("AvailableNow target refreshes when the file rotates mid-drain (unit)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import FollowFile.FollowOffset
    val f = Files.createTempFile("graft-anrot", ".log").toFile
    def put(n: Int): Unit = // n lines of exactly 10 bytes
      Files.write(f.toPath, ("AAAAAAAAA\n" * n).getBytes("UTF-8"))
    put(10) // 100 bytes
    val s = new FollowFileMicroBatchStream(f.getAbsolutePath,
      seekToEnd = false, maxBytesPerTrigger = None)
    s.prepareForTriggerAvailableNow() // target frozen at 100
    assert(s.latestOffset(FollowOffset(0, 0), ReadLimit.allAvailable())
      == FollowOffset(0, 100))
    // rotate mid-drain: the new file is 40 bytes — the drain target
    // must refresh to the NEW epoch's length, not stay pinned to the
    // old file's 100
    put(4)
    assert(s.latestOffset(FollowOffset(0, 100), ReadLimit.allAvailable())
      == FollowOffset(1, 40))
    // appends AFTER the rotation snapshot are next run's data: the
    // goalpost stays frozen so the AvailableNow run still terminates
    put(7)
    assert(s.latestOffset(FollowOffset(1, 40), ReadLimit.allAvailable())
      == FollowOffset(1, 40))
  }

  test("offsets floor to line ends (unit): no newline in range -> no advance") {
    val f = Files.createTempFile("graft-floor", ".log").toFile
    Files.write(f.toPath, "abc\ndefgh".getBytes("UTF-8"))
    val raf = new RandomAccessFile(f, "r")
    try {
      assert(FollowFile.floorToLineEnd(raf, 0, 9) == 4)  // past "abc\n"
      assert(FollowFile.floorToLineEnd(raf, 4, 9) == 4)  // "defgh": no line yet
      assert(FollowFile.floorToLineEnd(raf, 0, 4) == 4)
      assert(FollowFile.floorToLineEnd(raf, 2, 3) == 2)
    } finally raf.close()
  }

  private def plan(f: java.io.File, start: FollowFile.FollowOffset,
                   end: FollowFile.FollowOffset): Seq[FollowFilePartition] = {
    SparkSession.setActiveSession(spark)
    new FollowFileMicroBatchStream(f.getAbsolutePath, seekToEnd = false, maxBytesPerTrigger = None)
      .planInputPartitions(start, end).toSeq.map(_.asInstanceOf[FollowFilePartition])
  }

  private def read(p: FollowFilePartition): Seq[String] = {
    val r = new FollowFileReader(p)
    val out = Seq.newBuilder[String]
    while (r.next()) out += r.get().getUTF8String(0).toString
    out.result()
  }

  test("a micro-batch splits into contiguous line-aligned ranges under a small split size (unit)") {
    import FollowFile.FollowOffset
    val f = Files.createTempFile("graft-split", ".log").toFile
    // CRLF lines of 20 bytes; a 4,000-byte line in the middle is longer
    // than the split size; a split of 19 bytes puts every nominal cut
    // between a '\r' and its '\n'
    val short = (0 until 200).map(i => f"line-$i%05d xxxxxxx")
    val long = "L" * 4000
    val lines = short.take(100) ++ Seq(long) ++ short.drop(100)
    Files.write(f.toPath, lines.mkString("", "\r\n", "\r\n").getBytes("UTF-8"))
    val end = f.length()
    val bytes = Files.readAllBytes(f.toPath)
    val from = 20L * 3 // a mid-file start, as a later micro-batch has
    val whole = read(FollowFilePartition(f.getAbsolutePath, from, end))
    assert(whole == lines.drop(3))
    // the default split (openCostInBytes = 4 MB) keeps this batch whole
    assert(plan(f, FollowOffset(0, from), FollowOffset(0, end)).size == 1)
    val parts = withSplit(19)(plan(f, FollowOffset(0, from), FollowOffset(0, end)))
    assert(parts.size > 100, parts.size)
    // contiguous, covering [from, end) exactly
    assert(parts.head.start == from && parts.last.end == end)
    parts.zip(parts.tail).foreach { case (a, b) => assert(a.end == b.start, (a, b)) }
    assert(parts.forall(p => p.end > p.start))
    // every range starts right after a '\n'
    parts.foreach(p => assert(bytes((p.start - 1).toInt) == '\n', p))
    // CRLF stripped at every cut; the long line stays whole; the rows
    // equal those of one single-range read, in order
    val rows = parts.flatMap(read)
    assert(rows == whole)
    assert(rows.count(_ == long) == 1)
    assert(parts.exists(p => read(p) == Seq(long)))
    // epoch bump (truncation): the new file is read from byte 0
    val reopened = withSplit(19)(plan(f, FollowOffset(0, end + 100), FollowOffset(1, end)))
    assert(reopened.head.start == 0L && reopened.last.end == end)
    assert(reopened.flatMap(read) == lines)
  }

  test("split ranges read the same rows as one range, end to end") {
    val f = Files.createTempFile("graft-split-e2e", ".log").toFile
    val lines = (1 to 400).map(i => f"2024-01-01 00:${i / 60 % 60}%02d:${i % 60}%02d INFO $i")
    append(f, lines: _*)
    val one = runOnce(f, Files.createTempDirectory("graft-split1").toFile, "fs1")
    val many = withSplit(256)(runOnce(f, Files.createTempDirectory("graft-splitn").toFile, "fsn"))
    assert(one.map(_._2) == (1 to 400).map(_.toLong))
    assert(many == one)
  }

  test("a range over the one-read limit fails with a clear message") {
    val e = intercept[IllegalArgumentException](
      FollowFilePartition("/x.log", 0L, FollowFilePartition.MaxBytes + 1))
    assert(e.getMessage.contains("spark.sql.files.maxPartitionBytes"), e.getMessage)
  }

  test("follow config flows through TailStream: windowed SQL over a growing file") {
    val f = Files.createTempFile("graft-fstream", ".log").toFile
    val ckpt = Files.createTempDirectory("graft-fstream-ckpt").toFile
    val cfg = TailStream.Config(
      dir = f.getAbsolutePath, pattern = pattern, follow = true,
      windowSizeSec = 60, tsField = Some("ts"), format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def go(): Unit = {
      val q = TailStream.start(spark, Seq(cfg), ckpt.getAbsolutePath,
        sink = s => captured.add(s), trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    append(f, "2024-01-01 00:00:10 INFO 5")
    go()
    append(f, "2024-01-01 00:00:20 WARN 9") // SAME file keeps growing
    go()
    // raw blocks carry the reference byte frame (header + dash rule,
    // ", " cells — TailAppGoldenSpec pins it); strip to the data rows
    val out = captured.toArray(Array.empty[String]).toSeq
      .flatMap(_.split("\n").drop(2)).filter(_.nonEmpty).map(_.replace(", ", ","))
    assert(out == Seq("1704067200,1,5", "1704067200,1,9"), out.toString)
  }
}
