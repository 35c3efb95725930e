package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every entry point gets its session from `Sessions`. */
class SessionsSpec extends AnyFunSuite {

  test("src/main builds SparkSessions only through Sessions") {
    // comment lines and trailing comments are skipped
    val builder = """SparkSession\s*\.\s*builder""".r
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files =
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toList
      } finally walk.close()
    val hits = files.filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Sessions.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).toSeq
          .zipWithIndex.collect {
            case (line, i) if {
              val t = line.trim
              !t.startsWith("*") && !t.startsWith("/*") &&
                builder.findFirstIn(t.split("//", 2)(0)).isDefined
            } => s"$p:${i + 1}: ${line.trim}"
          }
      }
    assert(hits.isEmpty, "SparkSession built outside Sessions:\n" + hits.mkString("\n"))
  }
}
