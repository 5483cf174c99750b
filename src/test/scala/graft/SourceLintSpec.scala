package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guards over `src/main/scala`. */
class SourceLintSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  /** `file:line: text` of every line under `src/main/scala` outside
    * `allowed` that `banned` matches. */
  private def hits(banned: scala.util.matching.Regex, allowed: String)
      : List[String] = {
    assert(Files.isDirectory(main.resolve("graft")), "run from the root")
    val keep = main.resolve(allowed)
    Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p != keep)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
  }

  test("thread pools and futures in main code go through graft.Par") {
    val found = hits(
      """Executors\.|newFixedThreadPool|CompletableFuture""".r,
      "graft/Par.scala")
    assert(found.isEmpty,
      "overlap through graft.Par.scope, memoize through graft.Par.once:\n" +
        found.mkString("\n"))
  }

  test("parquet footers in main code are opened through ParquetMeta.open") {
    val found = hits("""ParquetFileReader\.open""".r,
      "graft/sources/ParquetMeta.scala")
    assert(found.isEmpty,
      "open footers with graft.sources.ParquetMeta.open, which passes " +
        "read options from the caller's Hadoop conf:\n" +
        found.mkString("\n"))
  }
}
