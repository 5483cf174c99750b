package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guards over `src/main/scala`. */
class SourceLintSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")

  test("thread pools and futures in main code go through graft.Par") {
    val par = main.resolve("graft/Par.scala")
    val banned = """Executors\.|newFixedThreadPool|CompletableFuture""".r
    assert(Files.isDirectory(main.resolve("graft")), "run from the root")
    val hits = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p != par)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"${main.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty,
      "overlap through graft.Par.scope, memoize through graft.Par.once:\n" +
        hits.mkString("\n"))
  }
}
