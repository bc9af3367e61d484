package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {
  test("a second call returns the same session, and Graft SQL functions resolve in it") {
    val shared = spark // the suites' session, restored below
    // with no default session, the factory builds a fresh session over the
    // running SparkContext, so its extensions are the factory's own
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val first = GraftSession.local(4)
      assert(first ne shared)
      assert(GraftSession.local(4) eq first)
      assert(first.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) == 11.0)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("src/main holds exactly one SparkSession.builder call, in GraftSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (cwd ${Paths.get("").toAbsolutePath})")
    val call = """SparkSession\s*\.\s*builder\b""".r
    val sites = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).nonEmpty && !isComment(line) =>
            s"${root.relativize(f)}:${i + 1}"
        }
      }.toList
    assert(sites.size == 1 && sites.head.startsWith("graft/GraftSession.scala:"),
      s"build sessions through graft.GraftSession; builder calls at: ${sites.mkString(", ")}")
  }

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }
}
