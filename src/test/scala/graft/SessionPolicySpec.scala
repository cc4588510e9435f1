package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session policy lives in `Sessions` alone. A second builder or a
  * second ANSI setting lets one entry point drift from the others, and
  * turning ANSI mode on must stay a one-file edit. */
class SessionPolicySpec extends AnyFunSuite {
  private val banned = Seq("""SparkSession\s*\.\s*builder""".r, """spark\.sql\.ansi\.enabled""".r)
  private val allowed = Set("Sessions.scala", "SessionPolicySpec.scala")

  test("only Sessions builds a SparkSession or sets ANSI mode") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"no src/ under ${src.toAbsolutePath}")
    val files = Files.walk(src).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    def hits(f: Path): Boolean = {
      val text = new String(Files.readAllBytes(f), "UTF-8")
      banned.exists(_.findFirstIn(text).isDefined)
    }
    val sessions = files.filter(_.getFileName.toString == "Sessions.scala")
    assert(sessions.size == 1 && hits(sessions.head), "Sessions.scala must build the session")
    val offenders = files.filter(f => !allowed(f.getFileName.toString) && hits(f))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
