package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap

import scala.util.Random

/** Seeded log lines in the tailsql shape, plus the reference output the
  * tail workloads are checked against.
  *
  * A matching line is `<ts µs> <level> <svc> <ms>`. About 5% of lines are
  * malformed and must be dropped by the regex, and DEBUG lines must be
  * dropped by the workload filter; neither contributes to any window.
  */
object LogGen {
  val Pattern: String =
    """(?P<ts__date>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{6}) (?P<level__str>\w+) (?P<svc__str>\w+) (?P<ms__int>\d+)"""
  val Filter = "level <> 'DEBUG'"
  val Sql = "SELECT window_start, level, count(*) AS n, sum(ms) AS s FROM t0 GROUP BY 1, 2 ORDER BY 1, 2"
  val Header = "window_start, level, n, s\n" + ("-" * 31) + "\n"

  private val Levels = Array("DEBUG", "INFO", "INFO", "INFO", "WARN", "ERROR")
  private val Services = Array("api", "auth", "db", "cache", "queue", "web", "search", "billing")
  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  def fmtTs(micros: Long): String =
    TsFormat.format(Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L))

  /** Per-window reference: (level -> (count, sum of ms)) over the lines
    * that survive parse and filter. */
  final class WindowAgg {
    val byLevel = new java.util.TreeMap[String, Array[Long]]()
    def add(level: String, ms: Long): Unit = {
      val a = byLevel.computeIfAbsent(level, _ => Array(0L, 0L))
      a(0) += 1; a(1) += ms
    }
    /** The block `Formatters.raw` prints for this window's SQL result. */
    def block(windowStart: Long): String = {
      val sb = new StringBuilder(Header)
      byLevel.forEach((lvl, a) => sb.append(s"$windowStart, $lvl, ${a(0)}, ${a(1)}\n"))
      sb.append('\n').toString
    }
  }

  /** One random line at event time `micros`; returns the line and, when
    * it survives parse and filter, its (level, ms). */
  final class LineSource(seed: Long) {
    private val rnd = new Random(seed)
    def next(micros: Long): (String, Option[(String, Long)]) =
      if (rnd.nextInt(100) < 5)
        (f"#### malformed record ${rnd.nextLong()}%016x", None)
      else {
        val lvl = Levels(rnd.nextInt(Levels.length))
        val svc = Services(rnd.nextInt(Services.length))
        val ms = (rnd.nextInt(1000) + 1).toLong
        (s"${fmtTs(micros)} $lvl $svc $ms", if (lvl == "DEBUG") None else Some((lvl, ms)))
      }
  }

  /** The backlog: `n` lines with event time spread evenly over
    * `spanSec` seconds from a seed-chosen hour, then one INFO line an hour
    * later so the watermark closes every data window. Returns the
    * expected block per window start (epoch seconds). */
  def writeBacklog(file: File, seed: Long, n: Int, spanSec: Long,
                    windowSec: Long): Map[Long, String] = {
    val src = new LineSource(seed)
    val t0 = (1700000000L / 3600L + new Random(seed).nextInt(10000)) * 3600L * 1000000L
    val aggs = collection.mutable.TreeMap.empty[Long, WindowAgg]
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), UTF_8), 1 << 20)
    try {
      var i = 0
      while (i < n) {
        val micros = t0 + (i.toLong * spanSec * 1000000L) / n
        val (line, kept) = src.next(micros)
        w.write(line); w.write('\n')
        kept.foreach { case (lvl, ms) =>
          val ws = Math.floorDiv(micros, windowSec * 1000000L) * windowSec
          aggs.getOrElseUpdate(ws, new WindowAgg).add(lvl, ms)
        }
        i += 1
      }
      w.write(s"${fmtTs(t0 + (spanSec + 3600L) * 1000000L)} INFO closer 1\n")
    } finally w.close()
    aggs.map { case (ws, a) => ws -> a.block(ws) }.toMap
  }

  /** Open-loop appender: `linesPerSec / 1000` lines every millisecond,
    * on a fixed schedule that does not slow down when the system under
    * test does. Each line's event time is its creation time. A window is
    * finalised (block and last creation time) as soon as the first line
    * of a later window is created.
    *
    * Lines created in the first `holdMs` of a window are appended
    * together when that time is up, as a buffered log writer would.
    * Triggers fire exactly on window boundaries, and a trigger closes the
    * window that just ended only if a line past the boundary is already
    * in the file when it reads; without the hold that was a race of a
    * millisecond or two, and latency jumped by a whole trigger interval
    * between windows and between runs. With it, only a trigger that
    * starts more than `holdMs` late (after an overrun) closes early. */
  final class Live(file: File, seed: Long, linesPerSec: Int, windowSec: Long,
                   holdMs: Long = 500L) extends Thread("graftbench-gen") {
    setDaemon(true)
    private val perTick = linesPerSec / 1000
    /** window start (s) -> (expected block, creation time µs of its last line) */
    val closed = new ConcurrentHashMap[Long, (String, Long)]()
    @volatile var running = true
    @volatile var lateMsMax = 0.0

    override def run(): Unit = {
      val src = new LineSource(seed)
      val out = new FileOutputStream(file, true)
      var cur = Long.MinValue
      var agg = new WindowAgg
      var lastMicros = 0L
      var lastCreated = 0L
      val sb = new StringBuilder
      val start = System.nanoTime()
      try {
        var tick = 0L
        while (running) {
          val due = start + tick * 1000000L
          var now = System.nanoTime()
          while (now < due) {
            java.util.concurrent.locks.LockSupport.parkNanos(due - now)
            now = System.nanoTime()
          }
          val late = (now - due) / 1e6
          if (late > lateMsMax) lateMsMax = late
          var k = 0
          while (k < perTick) {
            val i = Instant.now()
            val micros = i.getEpochSecond * 1000000L + i.getNano / 1000
            lastCreated = micros
            val ws = Math.floorDiv(micros, windowSec * 1000000L) * windowSec
            if (ws != cur) {
              if (cur != Long.MinValue) closed.put(cur, (agg.block(cur), lastMicros))
              cur = ws; agg = new WindowAgg
            }
            val (line, kept) = src.next(micros)
            kept.foreach { case (lvl, ms) => agg.add(lvl, ms); lastMicros = micros }
            sb.append(line).append('\n')
            k += 1
          }
          if (Math.floorMod(lastCreated, windowSec * 1000000L) >= holdMs * 1000L) {
            out.write(sb.toString.getBytes(UTF_8))
            out.flush()
            sb.setLength(0)
          }
          tick += 1
        }
      } finally out.close()
    }
  }
}
