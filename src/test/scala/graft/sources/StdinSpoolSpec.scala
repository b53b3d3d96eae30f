package graft.sources

import java.io.ByteArrayInputStream
import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.streaming.TailStream

class StdinSpoolSpec extends SparkSpec {

  test("spools a bounded stream into rolling files, in order, no temp litter") {
    val dir = Files.createTempDirectory("graft-spool-unit")
    val lines = (1 to 2500).map(i => s"line $i")
    val in = new ByteArrayInputStream(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    StdinSpool.spool(in, dir, maxLinesPerFile = 1000).join(30000)
    val files = dir.toFile.listFiles().sortBy(_.getName)
    assert(files.forall(f => f.getName.startsWith("spool-") && f.getName.endsWith(".log")),
      files.map(_.getName).mkString(","))
    assert(files.length == 3) // 1000 + 1000 + 500
    val replayed = files.flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq).toSeq
    assert(replayed == lines)
  }

  test("a named pipe (FIFO) spools like stdin: open blocks, lines flow, EOF ends") {
    // the --pipe path: FileInputStream on a FIFO — writer side is an
    // external process (here: a shell printf), reader side is the spool
    val fifo = Files.createTempDirectory("graft-fifo").resolve("in.fifo")
    val mk = new ProcessBuilder("mkfifo", fifo.toString).inheritIO().start()
    assert(mk.waitFor() == 0, "mkfifo failed")
    val writer = new ProcessBuilder("sh", "-c",
      s"printf 'a 1\\na 2\\nb 3\\n' > $fifo").start()
    val dir = Files.createTempDirectory("graft-fifo-spool")
    // FileInputStream(fifo) blocks until the writer connects — same as
    // TailApp's --pipe; run it on the spool thread's schedule
    val in = new java.io.FileInputStream(fifo.toFile)
    StdinSpool.spool(in, dir).join(30000)
    assert(writer.waitFor() == 0)
    val lines = dir.toFile.listFiles().sortBy(_.getName).flatMap(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq).toSeq
    assert(lines == Seq("a 1", "a 2", "b 3"), lines.toString)
  }

  test("a writer stalled MID-LINE does not hold complete lines hostage") {
    val dir = Files.createTempDirectory("graft-spool-stall")
    val out = new java.io.PipedOutputStream()
    val in = new java.io.PipedInputStream(out, 64 * 1024)
    val sp = StdinSpool.spool(in, dir, maxLinesPerFile = 1000)
    // two complete lines, then a partial one with NO newline — the
    // writer stalls here
    out.write("done 1\ndone 2\npart".getBytes("UTF-8"))
    out.flush()
    // the spool must publish the two complete lines once input goes
    // idle, even though readLine-style consumption would block on the
    // partial third
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def published(): Seq[String] =
      Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".log")).sortBy(_.getName)
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq).toSeq
    while (published().size < 2 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(published() == Seq("done 1", "done 2"), published().toString)
    // the stalled line completes: it arrives whole, nothing dropped
    out.write("ial done\n".getBytes("UTF-8"))
    out.close()
    sp.join(30000)
    assert(sp.failure.isEmpty, sp.failure.toString)
    assert(published() == Seq("done 1", "done 2", "partial done"))
  }

  test("a mid-stream failure is recorded and joinAndCheck fails the bounded run") {
    // stream that delivers one full line then dies mid-read. A clean
    // drain (pipe closed) is read() == -1, never an exception — so
    // BOTH an IOException (EIO on flaky storage) and any other error
    // must surface instead of silently truncating the input.
    def dyingStream(boom: => Throwable) = new java.io.InputStream {
      private val data = "good line\nbad".getBytes("UTF-8")
      private var i = 0
      override def read(): Int =
        if (i < data.length) { val b = data(i); i += 1; b & 0xff }
        else throw boom
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (i < data.length) {
          val n = math.min(len, data.length - i)
          System.arraycopy(data, i, b, off, n); i += n; n
        } else throw boom
      override def available(): Int = data.length - i
    }
    for (boom <- Seq[() => Throwable](
        () => new RuntimeException("upstream exploded"),
        () => new java.io.IOException("EIO: device error"))) {
      val dir = Files.createTempDirectory("graft-spool-fail")
      val sp = StdinSpool.spool(dyingStream(boom()), dir)
      sp.join(30000)
      assert(sp.failure.isDefined)
      val ex = intercept[java.io.IOException](sp.joinAndCheck(1000))
      assert(ex.getMessage.contains("partial input"), ex.getMessage)
      // what WAS complete before the failure is still published (with
      // the trailing partial, readLine parity), so ops can inspect it
      val lines = dir.toFile.listFiles().sortBy(_.getName).flatMap(f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq).toSeq
      assert(lines == Seq("good line", "bad"), lines.toString)
    }
  }

  test("piped input flows end-to-end: stdin spool -> tail -> windowed SQL") {
    // the `printf ... | TailApp --stdin --once` path, minus the real
    // process stdin: spool a byte stream, then AvailableNow over the
    // spool dir — exactly what TailApp does with --stdin --once
    val dir = Files.createTempDirectory("graft-spool-e2e")
    val ckpt = Files.createTempDirectory("graft-spool-ckpt")
    val text =
      """2024-01-01 00:00:10 INFO 5
        |2024-01-01 00:00:20 WARN 9
        |2024-01-01 00:01:05 INFO 2
        |""".stripMargin
    StdinSpool.spool(new ByteArrayInputStream(text.getBytes("UTF-8")), dir)
      .join(30000) // --once semantics: drain stdin fully, then run
    val cfg = TailStream.Config(
      dir = dir.toString,
      pattern = """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) (?P<level__str>\w+) (?P<ms__int>\d+)""",
      windowSizeSec = 60, tsField = Some("ts"), format = "raw",
      sql = Some("""SELECT window_start, count(*) AS n, sum(ms) AS total_ms
                    FROM t0 GROUP BY window_start ORDER BY window_start"""))
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = TailStream.start(spark, Seq(cfg), ckpt.toString,
      sink = s => captured.add(s), trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    // raw blocks carry the reference byte frame (header + dash rule,
    // ", " cells — TailAppGoldenSpec pins it); strip to the data rows
    val out = captured.toArray(Array.empty[String]).toSeq
      .flatMap(_.split("\n").drop(2)).filter(_.nonEmpty).map(_.replace(", ", ","))
    assert(out == Seq("1704067200,2,14", "1704067260,1,2"), out.toString)
  }
}
