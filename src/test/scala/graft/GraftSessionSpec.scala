package graft

import scala.jdk.CollectionConverters._

/** `GraftSession` is the only place a session is built: a second
  * hand-copied builder is how the session config drifted before. */
class GraftSessionSpec extends SparkSpec {
  test("the spec session carries every required conf") {
    GraftSession.requiredConfs.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("no SparkSession builder outside GraftSession") {
    val needle = Seq("SparkSession", "builder").mkString(".") // not a match itself
    val roots = Seq("src/main/scala", "src/test/scala").map(java.nio.file.Paths.get(_))
    roots.foreach(r => assert(java.nio.file.Files.isDirectory(r), r))
    val offending = roots.flatMap { root =>
      scala.util.Using.resource(java.nio.file.Files.walk(root))(_.iterator().asScala.toList)
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains(needle) &&
                !Seq("//", "*", "/*").exists(line.trim.startsWith) => s"$p:${i + 1}"
          }
        }
    }
    assert(offending.isEmpty, s"build sessions through GraftSession: $offending")
  }
}
