package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Bench builds its own session (it is the benchmark harness and stays
  * as it is); every other main builds through GraftSession. This pins
  * the two against drift as source text: Bench's planner confs must
  * be GraftSession's, and no third session builder may appear. The same
  * source-text pins keep the tail loop to one pipeline: one streaming
  * sink in TailStream and one session in TailApp.
  */
class SessionDriftSpec extends AnyFunSuite {
  private val main = new File("src/main/scala")
  private def lines(f: File): Seq[String] = Files.readAllLines(f.toPath).asScala.toSeq.map(_.trim)
  private def sources(d: File): Seq[File] =
    Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("every spark.sql conf Bench sets appears verbatim in GraftSession") {
    val bench = lines(new File(main, "graft/Bench.scala"))
      .filter(l => l.startsWith(".config(\"spark.sql.") && !l.startsWith(".config(\"spark.sql.ui."))
    assert(bench.size >= 10, s"Bench's spark.sql confs not found: $bench")
    val session = lines(new File(main, "graft/GraftSession.scala")).toSet
    val missing = bench.filterNot(session)
    assert(missing.isEmpty, s"Bench sets confs GraftSession does not: $missing")
  }

  test("SparkSession.builder() appears in src/main only in Bench and GraftSession") {
    val builder = """SparkSession\s*\.builder\(\)""".r
    val users = sources(main)
      .filter(f => builder.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)
      .map(_.getName).toSet
    assert(users == Set("Bench.scala", "GraftSession.scala"), users)
  }

  private def count(f: String, literal: String): Int =
    new String(Files.readAllBytes(new File(main, f).toPath), "UTF-8").split(
      java.util.regex.Pattern.quote(literal), -1).length - 1

  test("TailStream has one writeStream and one foreachBatch; TailApp one session") {
    assert(count("graft/streaming/TailStream.scala", ".writeStream") == 1)
    assert(count("graft/streaming/TailStream.scala", ".foreachBatch") == 1)
    assert(count("graft/TailApp.scala", "GraftSession.get()") == 1)
  }
}
