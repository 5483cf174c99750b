package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Source-level guards over `src/main/scala` (and `src/test/scala`). */
class SourceLintSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private val testSrc = Paths.get("src/test/scala")

  /** `file:line: text` of every line under `root` outside `allowed`
    * (relative to `root`) that `banned` matches. */
  private def hits(banned: scala.util.matching.Regex, allowed: String,
      root: java.nio.file.Path = main): List[String] = {
    assert(Files.isDirectory(root.resolve("graft")), "run from the root")
    val keep = root.resolve(allowed)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p != keep)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
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

  test("the codegen cache size has one home: Bridge.sizeCodegenCache") {
    val bridge = "org/apache/spark/sql/graftx/Bridge.scala"
    val named = hits(
      """spark\.sql\.codegen\.cache\.maxEntries|CODEGEN_CACHE_MAX_ENTRIES""".r,
      bridge)
    // a builder that sets it would override GraftExtensions' size
    val built = Seq(main, testSrc).flatMap(root => hits(
      """config\(\s*"spark\.sql\.codegen\.cache\.maxEntries""".r,
      "", root))
    assert(named.isEmpty && built.isEmpty,
      s"size Spark's generated-class cache only in $bridge, which " +
        "GraftExtensions applies to every session it builds:\n" +
        (named ++ built).mkString("\n"))
  }

  test("sessions are built only by graft.Session") {
    val found = Seq(main, testSrc).flatMap(root => hits(
      """SparkSession\s*\.\s*builder""".r, "graft/Session.scala", root))
    assert(found.isEmpty,
      "build a session with graft.Session.local, passing only the " +
        "settings that belong to the caller:\n" + found.mkString("\n"))
  }

  test("the RocksDB state store is chosen only by StreamRun.withRocksDb") {
    // the name is split so that this file does not match itself
    val found = Seq(main, testSrc).flatMap(root => hits(
      ("RocksDB" + "StateStoreProvider").r, "graft/Q.scala", root))
    assert(found.isEmpty,
      "run a stateful stream inside graft.StreamRun.withRocksDb, which " +
        "restores the session's previous provider:\n" +
        found.mkString("\n"))
  }

  test("the extensions conf is set only by graft.Session") {
    val found = Seq(main, testSrc).flatMap(root => hits(
      """"spark\.sql\.extensions"""".r, "graft/Session.scala", root))
    assert(found.isEmpty,
      "graft.Session.local installs graft.GraftExtensions in every " +
        "session it builds:\n" + found.mkString("\n"))
  }
}
