package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Only the command-line entry points read the environment. An env read
  * inside the library is a setting no caller can see or pass, such as a
  * hidden A/B switch; the library takes its settings as parameters
  * (`CrawlConfig`, method arguments) instead.
  */
class EnvReadSpec extends AnyFunSuite {

  private val entryPoints = Set("Bench.scala", "CrawlDemo.scala", "Verify.scala")
  private val envRead = """sys\.env|System\.getenv|sys\.props""".r

  test("no file under src/main/scala/graft except the entry points reads the environment") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(p => entryPoints(root.relativize(p).toString)))
    val reads = for {
      file <- sources if !entryPoints(root.relativize(file).toString)
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("env reads outside the entry points:\n", "\n", ""))
  }
}
