package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Footer-only parquet statistics and schemas.
  *
  * `rowCount` answers "how many rows does this table hold" from the
  * parquet footers alone — ZERO Spark jobs, no task scheduling, no data
  * pages read (each footer read is a few KB of metadata I/O). The ANN /
  * semantic-dedup operators use it to size their IVF cell split
  * (`VecAlgs.cellSplit`): sizing is one scalar the storage layer already
  * knows, and paying a full `count()` scan for it would put an extra
  * pass over the corpus in front of every index build — at 100 TB, a
  * full cluster job per query for one number. `longStats` reads a long
  * column's null-free (min, max) the same way; combined with rowCount
  * it CHECKS an id column's declared dense-unique contract (n non-null
  * rows spanning [0, n−1] — uniqueness itself is the table's key
  * contract, not provable from min/max/count), which lets the
  * incremental ops derive residue-class batch sizes exactly without a
  * scan (VERDICT-r11 #7). `schema` answers a single file's Spark schema
  * the way Spark's own inference derives it, but on the driver: the
  * table loader [[graft.T]] reads with it instead of paying a schema
  * inference job per table. ParquetMetaSpec pins all properties: counts,
  * stats and schemas equal their scan- or inference-based twins and
  * schedule no Spark job.
  *
  * Every footer open in main code goes through [[open]], with read
  * options built from the caller's Hadoop conf: `ParquetFileReader.open`
  * without options builds a fresh default `Configuration` per call,
  * which re-parses the Hadoop default resources on every footer read and
  * costs more than the read itself.
  *
  * Scope: exact for plain parquet files/directories (the fixture layout
  * and any parquet table without deletion vectors). Snapshot tables
  * route through their own manifest statistics instead (SnapTable
  * manifests carry exact per-file row counts).
  */
object ParquetMeta {

  /** Opens one parquet file for footer reads, with read options from
    * `conf` (see the object doc). Also runs on executors, so it takes
    * a conf rather than a session. The caller closes the reader. */
  def open(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).build())

  /** The footer of `path` when it is a regular file; `None` for a
    * directory or a missing path, which keep Spark's own inference. */
  def fileFooter(s: SparkSession, path: String): Option[ParquetMetadata] = {
    val conf = s.sessionState.newHadoopConf()
    val file = new Path(path)
    val fs = file.getFileSystem(conf)
    val isFile =
      try fs.getFileStatus(file).isFile
      catch { case _: java.io.FileNotFoundException => false }
    if (!isFile) None
    else {
      val r = open(conf, file)
      try Some(r.getFooter) finally r.close()
    }
  }

  /** The footer of one visible part file of directory `path`; `None`
    * for a regular file, a missing path or a directory without one. */
  def partFooter(s: SparkSession, path: String): Option[ParquetMetadata] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    val isDir =
      try fs.getFileStatus(dir).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    if (!isDir) None
    else visibleFiles(fs, dir).find(_.getName.endsWith(".parquet"))
      .flatMap(f => fileFooter(s, f.toString))
  }

  /** The Spark schema of one file's footer, converted by Spark's own
    * per-file schema-inference function under `s`'s SQL conf. It keeps
    * the footer's non-null fields; a file source read with it applies
    * `asNullable`, so the frame's schema equals the inferred one. */
  def schema(s: SparkSession, path: String, footer: ParquetMetadata)
      : StructType =
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(path), footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))

  /** Whether top-level `column` is a TIMESTAMP(NANOS) in the footer. */
  def timestampNanos(footer: ParquetMetadata, column: String): Boolean = {
    val schema = footer.getFileMetaData.getSchema
    schema.containsField(column) &&
    (schema.getType(schema.getFieldIndex(column)).getLogicalTypeAnnotation
      match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  /** Visible data files under `path` (recursive over partitioned
    * layouts); a file or an empty seq for a bare file path. Hidden /
    * metadata entries are filtered by path COMPONENT below the root
    * (Spark's InMemoryFileIndex rule), not just the leaf: a stale
    * _temporary/.../part-0.parquet from an interrupted write must not
    * count. A visible non-.parquet data file fails fast — silently
    * skipping it would under-report with no error (ADVICE-r11). */
  private def dataFiles(s: SparkSession, path: String)
      : (Configuration, Seq[Path]) = {
    val conf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val files =
      if (!fs.getFileStatus(root).isDirectory) Seq(root)
      else visibleFiles(fs, root).map { f =>
        require(f.getName.endsWith(".parquet"),
          s"ParquetMeta($path): non-parquet data file " +
            s"'$f' — footer stats would under-report; use a " +
            "scan for mixed-format directories")
        f
      }.toSeq
    (conf, files)
  }

  /** The files under directory `root`, recursively, that no hidden path
    * component (`.x` or `_x` below the root) hides, lazily listed. */
  private def visibleFiles(fs: org.apache.hadoop.fs.FileSystem, root: Path)
      : Iterator[Path] = {
    val rootUri = root.toUri.getPath
    val it = fs.listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.isFile).map(_.getPath)
      .filterNot { p =>
        p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/").split('/')
          .exists(c => c.startsWith(".") || c.startsWith("_"))
      }
  }

  /** Exact row count of a parquet file or directory (recursive over
    * partitioned layouts), summed from footer block metadata. */
  def rowCount(s: SparkSession, path: String): Long = {
    val (conf, files) = dataFiles(s, path)
    var total = 0L
    files.foreach { f =>
      val r = open(conf, f)
      try total += r.getRecordCount
      finally r.close()
    }
    total
  }

  /** Exact (min, max) of a required INT64 column across every data
    * file, from footer column statistics only — zero Spark jobs. Fails
    * fast when any block lacks usable stats (truncated/absent) rather
    * than returning a silently-wrong range. */
  def longStats(s: SparkSession, path: String, column: String)
      : (Long, Long) = {
    val (conf, files) = dataFiles(s, path)
    var mn = Long.MaxValue
    var mx = Long.MinValue
    var blocks = 0
    files.foreach { f =>
      val r = open(conf, f)
      try r.getFooter.getBlocks.asScala.foreach { b =>
        if (b.getRowCount > 0) {
          blocks += 1
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"ParquetMeta.longStats($path): no column '$column'"))
          val st = c.getStatistics
          require(st != null && !st.isEmpty && st.hasNonNullValue,
            s"ParquetMeta.longStats($path): block without usable " +
              s"stats for '$column' — fall back to a scan")
          // REQUIRED column contract: nulls would be invisible to
          // min/max and silently skew any derivation built on them
          require(st.isNumNullsSet && st.getNumNulls == 0,
            s"ParquetMeta.longStats($path): '$column' has " +
              s"${st.getNumNulls} nulls (or an unset null count) — " +
              "min/max cover only non-null values; use a scan")
          st.genericGetMin match {
            case lo: java.lang.Long =>
              mn = math.min(mn, lo.longValue)
              mx = math.max(mx,
                st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            case _ => throw new IllegalArgumentException(
              s"ParquetMeta.longStats($path): '$column' is not INT64 " +
                s"(stats ${st.getClass.getSimpleName})")
          }
        }
      } finally r.close()
    }
    require(blocks > 0,
      s"ParquetMeta.longStats($path): no non-empty blocks")
    (mn, mx)
  }
}
