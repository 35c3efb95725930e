package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point gets its session from `Sessions`, and the facade
  * leaves the session's views and functions alone. */
class SessionsSpec extends AnyFunSuite {

  /** (file, 1-based line number, code) of every Scala line under `dir`;
    * comment lines and trailing comments are skipped. */
  private def code(dir: String): Seq[(Path, Int, String)] = {
    val walk = Files.walk(Paths.get(dir))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if { val t = line.trim; !t.startsWith("*") && !t.startsWith("/*") } =>
          (p, i + 1, line.trim.split("//", 2)(0))
      }
    }
  }

  test("src/main builds SparkSessions only through Sessions") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val hits = code("src/main/scala").collect {
      case (p, n, t) if p.getFileName.toString != "Sessions.scala" &&
          builder.findFirstIn(t).isDefined => s"$p:$n: $t"
    }
    assert(hits.isEmpty, "SparkSession built outside Sessions:\n" + hits.mkString("\n"))
  }

  test("catalog and api register no session function, and only " +
    "DataSource.publish registers a view") {
    val register = """udf\s*\.\s*register""".r
    val view = """create(OrReplace|Global)?TempView""".r
    val method = """\bdef\s+(\w+)""".r
    val hits = Seq("src/main/scala/graft/catalog", "src/main/scala/graft/api").flatMap { dir =>
      val lines = code(dir)
      lines.zipWithIndex.collect {
        case ((p, n, t), i) if register.findFirstIn(t).isDefined ||
            view.findFirstIn(t).isDefined && !(p.getFileName.toString == "DataSource.scala" &&
              lines.take(i + 1).reverseIterator.filter(_._1 == p)
                .flatMap(l => method.findFirstMatchIn(l._3)).nextOption()
                .exists(_.group(1) == "publish")) => s"$p:$n: $t"
      }
    }
    assert(hits.isEmpty, "session state registered by the facade:\n" + hits.mkString("\n"))
  }
}
