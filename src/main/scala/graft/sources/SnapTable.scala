package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A minimal snapshot table format over parquet — the Delta/Iceberg-style
  * ACID layer the sandbox has no jars for, re-derived from the published
  * designs (Delta log protocol, Iceberg manifests) rather than ported.
  *
  * Layout:
  * {{{
  *   root/_log/v00000001.json     // manifest: file list + per-file stats
  *   root/_log/v00000002.json
  *   root/data/c-<uuid>/part-*.parquet   // one immutable dir per commit
  * }}}
  *
  * Core properties, each load-bearing at 100 TB:
  *
  *  - **Snapshot isolation.** A manifest is the complete, immutable file
  *    list of one table version. Readers resolve ONE manifest and never see
  *    a half-written commit: data files are fully written before the
  *    manifest that references them exists.
  *  - **Atomic, optimistic commits.** A commit writes `v{N+1}.json.tmp` and
  *    promotes it with a create-exclusive atomic move. Two racing writers
  *    both target N+1; exactly one move succeeds, the loser re-reads the
  *    log and retries on N+2 (`commitManifest`). On HDFS/local-posix the
  *    rename is atomic as used here; on S3-class stores the same protocol
  *    needs a conditional-PUT or a log-service — the manifest format is
  *    unchanged.
  *  - **File-level pruning.** Each manifest entry carries `rows/min/max` of
  *    a declared stats column, so a range predicate skips whole files from
  *    the DRIVER, before any task launches (`readRange`) — the first-line
  *    data-skipping mechanism when one table is thousands of files.
  *  - **Copy-on-write MERGE.** `merge` rewrites ONLY the files that contain
  *    a matched key (found with one semi-join over the file-path metadata
  *    column) and carries every untouched file forward by reference. An
  *    update of 0.1% of keys clustered in 1% of files rewrites 1% of the
  *    table, not 100%.
  *  - **File-diff CDC.** `changes(from, to)` reads only the files ADDED and
  *    REMOVED between two snapshots — carried-forward files cannot contain
  *    changes by construction — and row-diffs just those. The change feed
  *    for a small merge costs IO proportional to the merge, not the table.
  *  - **Vacuum.** Data dirs not referenced by any retained manifest are
  *    deleted; the live snapshot's files are provably kept because
  *    retention is expressed in manifests, not timestamps.
  *
  * Paths inside a manifest are relative to `root`, so the table is
  * relocatable (rsync/distcp the directory and it still reads).
  */
object SnapTable {

  /** A snapshot-transforming commit (merge / delete / compact / restore)
    * lost its optimistic-concurrency race: the file list it computed is
    * stale against the new head, and re-linking it would silently drop the
    * winner's changes (the classic lost update). The operation must be
    * re-run against the current head — same contract as Delta's
    * ConcurrentModificationException family.
    */
  final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

  /** A commit retry observed a concurrent writer advancing an identity
    * column's high-water mark: the already-written files may duplicate
    * its values, so the append must RE-ASSIGN (not relink). The append
    * wrappers catch this internally and re-run against the new head.
    */
  final class IdentityRaceException(msg: String)
    extends RuntimeException(msg)

  /** An append's schema breaks the additive-only evolution contract:
    * every existing column must stay present with an identical type.
    */
  final class SchemaEvolutionException(msg: String)
    extends RuntimeException(msg)

  /** A write's rows violate a declared CHECK constraint. */
  final class ConstraintViolationException(msg: String)
    extends RuntimeException(msg)

  /** Per-column [min,max] for every INT64 column the file's footer covers
    * (Delta/Iceberg collect per-column stats the same way) — any stats'd
    * column can drive file skipping, which is what makes Z-order layouts
    * pay off on BOTH clustered dimensions.
    *
    * `sstats` are STRING column [min,max] bounds, recorded only when the
    * footer values are ASCII and ≤ 64 chars (ASCII keeps parquet's
    * unsigned-byte ordering identical to String.compareTo; the length
    * cap keeps manifests metadata-sized — an absent entry just means
    * "cannot prune this file on this column", never a wrong skip).
    * They make `lang = 'en'` / category-equality predicates prune files
    * exactly like numeric ranges do.
    */
  /** `nulls` are per-column NULL counts (for the INT64-stats columns,
    * recorded only when every row group's footer declares one): the
    * missing piece that turns [min,max] coverage into a PROOF that a
    * predicate holds for every row of the file — a NULL makes any
    * comparison non-true, so metadata-only deletes require nulls == 0.
    */
  /** `dstats` are DOUBLE-column [min,max] bounds (footer-derived, NaN
    * bounds rejected per the parquet ordering caveat): price/score
    * range predicates prune files exactly like the INT64 stats do.
    */
  final case class FileEntry(path: String, rows: Long,
      stats: Map[String, (Long, Long)],
      sstats: Map[String, (String, String)] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      dstats: Map[String, (Double, Double)] = Map.empty)

  /** `schemaJson` is the table schema AS OF this snapshot (StructType
    * JSON). Schema lives in the log, not in data-file footers: a read
    * applies the snapshot's schema to every file and parquet null-fills
    * columns a file predates — schema evolution without rewriting a byte
    * (and without a mergeSchema footer sweep over thousands of files).
    */
  /** `spec` is the snapshot's PARTITION SPEC: identity partition columns,
    * recorded in the manifest (Iceberg-style), not in directory paths.
    * Files written under a spec are range-clustered on it, so their
    * manifest [min,max] stats make partition pruning a special case of
    * the existing file skipping — and because every file carries its OWN
    * stats, the spec can EVOLVE without rewriting a byte: old files keep
    * pruning under the old clustering, new files under the new.
    */
  /** `dvs` are DELETION-VECTOR files (merge-on-read deletes): parquet
    * files of (file path, row index) pairs under data/, subtracted from
    * every read of this snapshot. A MoR delete commits a DV instead of
    * rewriting data files; OPTIMIZE materializes and clears them.
    */
  /** `checks` are named CHECK constraints (SQL boolean expressions over
    * the row): every append/merge validates its INCOMING rows against
    * them — one pass over the batch, never the table — and a violation
    * fails the commit before any manifest links.
    */
  /** `ts` is the commit wall-clock (epoch millis), stamped when the
    * manifest serializes — the index `TIMESTAMP AS OF` resolves against.
    */
  /** `bucket` is an optional HASH-BUCKET layout `(column, numBuckets)`
    * (the Iceberg `bucket(n, col)` transform): every data file holds rows
    * of exactly ONE bucket id `pmod(murmur3(col), n)`, recorded in the
    * file's stats under the synthetic `_gfb` column. That single-bucket
    * per-file invariant is what lets the catalog report
    * `KeyGroupedPartitioning` to Spark and join two co-bucketed tables
    * with NO shuffle on either side (storage-partitioned joins). Bucket
    * and range `spec` layouts are mutually exclusive.
    */
  /** `blooms` are BLOOM-INDEX sidecar dirs (parquet of
    * (file, column, m, bits)): per-file bloom filters over a declared
    * column, consulted by [[readPoint]] to skip files for equality
    * lookups where range stats can't prune (uncorrelated / hashed
    * keys). Files without a bloom entry are always read — the index is
    * an optimization, never a correctness gate.
    */
  /** `colmap` is the COLUMN MAPPING (the Delta column-mapping idea,
    * name mode): logical column name → the PHYSICAL name stored in data
    * files, recorded only where they differ. RENAME COLUMN changes the
    * logical name and keeps the physical one, so no data file is ever
    * rewritten; every read resolves through the map, every write renames
    * to physical before the parquet writer. `dead` tombstones the
    * physical names of DROPPED columns: re-adding a same-named column
    * must pick a fresh physical name, or old files' dropped values would
    * resurrect under the new column.
    */
  /** `filesFrom` is the version whose manifest physically INLINES this
    * snapshot's file list (set by [[load]]; 0 = not tracked, e.g. a
    * pre-commit construction). A metadata-only commit — MoR DELETE,
    * ADD/RENAME/DROP COLUMN, CHECK, bloom index, spec evolution,
    * RESTORE — serializes `"filesRef": filesFrom` INSTEAD of re-listing
    * every file: at a million files that turns an O(table) manifest
    * write into an O(1) one. Ref chains never exceed depth 1: a commit
    * always refs the version that inlines, and vacuum keeps referenced
    * manifests alive alongside their referrers.
    */
  /** `defaults` are INITIAL COLUMN DEFAULTS (the Iceberg-v3
    * initial-default idea): logical column → (literal SQL text, the
    * version the column was added at). A file written BEFORE the add
    * physically lacks the column, so reads fill the default instead of
    * null — back-filling ADD COLUMN semantics without touching a byte.
    * Rows written at-or-after the add store explicit values (their
    * NULLs stay NULL). "Before" is decided per FILE from the write era
    * encoded in its data-dir name (`c<era>-…`), which makes the fill a
    * pure codegen expression over `_metadata.file_path` — no membership
    * sets, at any file count.
    */
  final case class Snapshot(
      version: Int, op: String, statsCol: String, schemaJson: String,
      files: Seq[FileEntry], txn: Option[String] = None,
      spec: Seq[String] = Seq.empty, dvs: Seq[String] = Seq.empty,
      checks: Map[String, String] = Map.empty, ts: Long = 0L,
      bucket: Option[(String, Int)] = None,
      gen: Map[String, String] = Map.empty,
      blooms: Seq[String] = Seq.empty,
      colmap: Map[String, String] = Map.empty,
      dead: Seq[String] = Seq.empty,
      filesFrom: Int = 0,
      defaults: Map[String, (String, Int)] = Map.empty,
      eraHi: Int = 0,
      props: Map[String, String] = Map.empty,
      idents: Map[String, (Long, Long, Boolean)] = Map.empty)

  /** The table's ERA high-water mark: a monotone counter the next write
    * stamps into its data-dir name, and initial-default thresholds
    * compare against. Historically the era WAS the version number
    * (every write stamped parent.version + 1), so legacy manifests
    * without the field read as `eraHi = version` — bitwise-identical
    * behavior for linear histories. Tracking it separately is what
    * frees the era space from the VERSION space: a shallow clone (whose
    * log restarts at v1) carries the source's `eraHi` forward, so
    * clone-side writes stamp ABOVE every carried threshold instead of
    * colliding with it — defaults-bearing snapshots clone without a
    * compact-first step.
    */
  private[sources] def eraHiOf(s: Snapshot): Int =
    math.max(s.eraHi, s.version)

  /** Physical (on-file) name of a logical column under a column
    * mapping — identity unless renamed.
    */
  private[sources] def physName(colmap: Map[String, String],
      c: String): String = colmap.getOrElse(c, c)

  /** The snapshot schema with every field at its PHYSICAL name — what
    * the parquet readers and writers actually see.
    */
  private[sources] def physSchemaOf(schemaJson: String,
      colmap: Map[String, String])
      : org.apache.spark.sql.types.StructType = {
    val s = schemaOf(schemaJson)
    if (colmap.isEmpty) s
    else org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = physName(colmap, f.name))))
  }

  /** Alias a PHYSICAL frame's columns back to their logical names,
    * passing `extra` columns (metadata captured before this projection)
    * through untouched. No-op without a mapping.
    */
  private[sources] def toLogical(df: DataFrame, schemaJson: String,
      colmap: Map[String, String],
      extra: Seq[String] = Seq.empty): DataFrame =
    if (colmap.isEmpty) df
    else {
      val schema = schemaOf(schemaJson)
      df.select(schema.fields.toIndexedSeq.map(f =>
        col(physName(colmap, f.name)).as(f.name)) ++ extra.map(col): _*)
    }

  /** The synthetic stats column carrying a file's bucket id. */
  val BucketStatsCol = "_gfb"

  private[graft] def schemaOf(json: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  // ---------------------------------------------------------------- commits

  /** Create the table at version 1 from `df`; `statsCol` is the long column
    * whose per-file min/max the manifests index (the natural cluster key).
    */
  def create(s: SparkSession, root: String, df: DataFrame,
      statsCol: String, spec: Seq[String] = Seq.empty): Int = {
    Files.createDirectories(Paths.get(root, "_log"))
    val snap = Snapshot(1, "create", statsCol, df.schema.json,
      writeData(s, root, clusterBySpec(df, spec), statsCol, era = 1),
      spec = spec)
    if (tryLink(root, snap)) 1
    else throw new ConcurrentCommitException(
      s"create lost the race for v1 at $root — the table already exists")
  }

  /** Create a HASH-BUCKETED table: every write clusters rows into
    * `numBuckets` buckets of `pmod(murmur3(bucketCol), n)` with one
    * bucket id per data file. Two tables bucketed with the same `n` on
    * their join keys storage-partition-join with zero shuffle (the
    * catalog reports `KeyGroupedPartitioning`). `bucketCol` must be a
    * LONG column — the layout's hash is pinned to Spark's
    * `hash()`/murmur3 for longs, the same function the catalog exposes
    * as its `bucket(n, col)` V2 function.
    */
  def createBucketed(s: SparkSession, root: String, df: DataFrame,
      statsCol: String, bucketCol: String, numBuckets: Int): Int = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    require(df.schema(bucketCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"bucket column '$bucketCol' must be LONG (the bucket transform " +
        "hash is pinned to murmur3-of-long)")
    Files.createDirectories(Paths.get(root, "_log"))
    val b = Some((bucketCol, numBuckets))
    val snap = Snapshot(1, "create", statsCol, df.schema.json,
      writeData(s, root, df, statsCol, b, era = 1), bucket = b)
    if (tryLink(root, snap)) 1
    else throw new ConcurrentCommitException(
      s"create lost the race for v1 at $root — the table already exists")
  }

  /** CREATE TABLE without data: version 1 is an empty snapshot carrying
    * only the schema (and optional partition spec) — the DDL-first path
    * the SQL catalog needs. The first append populates it.
    */
  def createEmpty(root: String,
      schema: org.apache.spark.sql.types.StructType, statsCol: String,
      spec: Seq[String] = Seq.empty,
      props: Map[String, String] = Map.empty,
      gen: Map[String, String] = Map.empty,
      idents: Map[String, (Long, Long, Boolean)] = Map.empty): Int = {
    idents.foreach { case (c, (_, step, _)) =>
      require(schema.fields.exists(f => f.name == c &&
        f.dataType == org.apache.spark.sql.types.LongType),
        s"identity column '$c' must be BIGINT")
      require(step != 0, s"identity column '$c': step must be nonzero")
    }
    Files.createDirectories(Paths.get(root, "_log"))
    if (tryLink(root, Snapshot(1, "create", statsCol, schema.json,
        Seq.empty, None, spec, props = props, gen = gen,
        idents = idents))) 1
    else throw new ConcurrentCommitException(
      s"create lost the race for v1 at $root — the table already exists")
  }

  /** CONVERT a directory of bare parquet files into a SnapTable IN
    * PLACE (the published `CONVERT TO DELTA` / Iceberg `add_files`
    * idea, re-derived): no data file is read, moved, or rewritten —
    * version 1's manifest simply REFERENCES the files where they
    * already live, with rows / min-max / null-count stats lifted from
    * their footers. Converting a 100 TB parquet lake costs one footer
    * read per file (fanned out over the cluster above a small count)
    * plus one manifest write; from the next commit on the data gets
    * ACID snapshots, time travel, MERGE, CDC, and file skipping —
    * over bytes that never moved.
    *
    * Contract: `root` is not already a SnapTable; every file shares
    * the schema (additive differences null-fill like any evolved
    * read); hive-style `k=v` path encoding is NOT lifted to columns
    * (partition values must be materialized in the files — run a
    * normal Spark read+write migration for path-partitioned data).
    * Converted-in files live OUTSIDE the managed `data/` dir, so
    * vacuum never reclaims them (conservative: they predate the log
    * and may be shared); once a compaction rewrites them into managed
    * dirs, deleting the unreferenced originals is the owner's call.
    */
  def convertInPlace(s: SparkSession, root: String,
      statsCol: String): Int = {
    val rootPath = Paths.get(root).toAbsolutePath
    require(!Files.exists(rootPath.resolve("_log")),
      s"$root is already a SnapTable (has a _log)")
    val files = {
      val st = Files.walk(rootPath)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .toIndexedSeq.sortBy(_.toString)
      finally st.close()
    }
    require(files.nonEmpty, s"no parquet files under $root")
    // schema from a bounded footer sample (the files share one schema
    // by contract) — not an O(files) listing through the Spark reader
    val schema =
      s.read.parquet(files.take(16).map(_.toString): _*).schema
    require(schema.fieldNames.contains(statsCol),
      s"stats column '$statsCol' is not in the discovered schema " +
        schema.fieldNames.mkString("(", ", ", ")"))
    // the footer sweep is the only O(files) cost; beyond a driver-loop
    // scale it runs as a Spark job (footers are read WHERE the task
    // lands — only FileEntry rows come back)
    val entries: Seq[FileEntry] =
      if (files.size <= 64)
        files.flatMap(p => footerEntry(s, root, p))
      else {
        val rootStr = rootPath.toString
        s.sparkContext
          .parallelize(files.map(_.toString), math.min(files.size, 256))
          .mapPartitions { it =>
            val conf = new org.apache.hadoop.conf.Configuration()
            it.flatMap(f =>
              footerEntryConf(conf, rootStr, Paths.get(f)))
          }.collect().toIndexedSeq
      }
    Files.createDirectories(rootPath.resolve("_log"))
    if (tryLink(root, Snapshot(1, "convert", statsCol, schema.json,
        entries.sortBy(_.path)))) 1
    else throw new ConcurrentCommitException(
      s"convert lost the race for v1 at $root — the table already exists")
  }

  /** Partition-spec EVOLUTION: a metadata-only commit that declares a new
    * partition spec for all FUTURE writes. No data file is touched —
    * the new snapshot carries the parent's file list byte-identically.
    * Old files still prune on the old spec's columns (their stats don't
    * change); files appended afterwards are clustered — and prune — on
    * the new spec. This is what saves the full-table rewrite that
    * path-partitioned layouts force on a layout change.
    */
  def evolvePartition(s: SparkSession, root: String,
      newSpec: Seq[String]): Int = {
    val parent = load(root, latestVersion(root))
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(parent.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    newSpec.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the table schema"))
    commitExclusive(root, parent, parent.files, "evolve-spec",
      parent.schemaJson, spec = newSpec)
  }

  /** Append-only commit: new files plus every file of the parent snapshot.
    * The incoming frame's schema becomes the snapshot schema — appending
    * with an ADDED column IS the schema-evolution commit (old files
    * null-fill it on read). Evolution is additive-only: dropping or
    * retyping an existing column is rejected (`SchemaEvolutionException`),
    * because adopting such a schema would silently null out that column
    * for every pre-existing file on read.
    */
  def append(s: SparkSession, root: String, df0: DataFrame): Int = {
    var attempts = 0
    while (true) {
      val parent = load(root, latestVersion(root))
      // PHYSICAL names of identity columns THIS append will assign —
      // the race-detection key for the relink guard below
      val assigned = parent.idents.keys.toSeq.sorted
        .filterNot(df0.columns.contains)
        .map(physName(parent.colmap, _))
      val df = applyGenerated(fillIdentity(s, parent, df0), parent.gen,
        "incoming")
      validateEvolution(parent.schemaJson, df.schema)
      validateChecks(df, parent.checks, "incoming")
      val cm = widenColmap(parent, df.schema)
      val fresh = writeData(s, root, clusterFor(df, parent),
        parent.statsCol, parent.bucket, cm, era = eraHiOf(parent) + 1)
      try
        return commitAppend(root, parent, fresh, df.schema, txn = None,
          freshBlooms =
            appendBlooms(s, root, parent, fresh, df.schema.json),
          colmap = cm, identAssigned = assigned)
      catch {
        // a concurrent writer claimed the same identity range: the
        // whole assignment re-runs against the new head (orphaned
        // attempt files are vacuum-reclaimed, like any lost race).
        // One writer wins every round, so n contenders converge in at
        // most n rounds; the backoff de-synchronizes the herd.
        case _: IdentityRaceException if attempts < 64 =>
          attempts += 1
          Thread.sleep(
            java.util.concurrent.ThreadLocalRandom.current()
              .nextLong(10L * attempts))
      }
    }
    -1 // unreachable
  }

  /** PREPARE an append for a multi-table transaction (SnapTxn): the new
    * snapshot is built from the PINNED parent `pin` — not the per-table
    * head, which may be another transaction's orphan — and linked at the
    * next free slot. The resulting version is INVISIBLE to transactional
    * readers until a tx record pins it; `SnapTxn.publish` is the atomic
    * visibility point. Slot collisions with concurrent preparers just
    * move to the next slot: the file list is parent.files ++ fresh
    * regardless of which slot it lands in, because lineage in tx mode is
    * defined by the pin chain, not slot adjacency.
    */
  private[graft] def prepareAppend(s: SparkSession, root: String,
      df0: DataFrame, pin: Int): Int = {
    val parent = load(root, pin)
    // the pinned-parent commit shape cannot re-assign on a race, so
    // engine-assigned identity values are refused here (explicit
    // BY DEFAULT values flow through fine)
    require(parent.idents.keys.forall(df0.columns.contains),
      "identity assignment is not supported under multi-table " +
        "transactions — provide explicit values (BY DEFAULT column)")
    val df = applyGenerated(fillIdentity(s, parent, df0), parent.gen,
      "incoming")
    validateEvolution(parent.schemaJson, df.schema)
    validateChecks(df, parent.checks, "incoming")
    val cm = widenColmap(parent, df.schema)
    val fresh = writeData(s, root, clusterFor(df, parent),
      parent.statsCol, parent.bucket, cm, era = eraHiOf(parent) + 1)
    val bx = appendBlooms(s, root, parent, fresh, df.schema.json)
    val widened = widenNullability(parent, df.schema)
    var v = latestVersion(root) + 1
    while (!tryLink(root, Snapshot(v, "txn-append", parent.statsCol,
        widened.json, parent.files ++ fresh, None, parent.spec,
        parent.dvs, parent.checks, bucket = parent.bucket,
        gen = parent.gen, blooms = parent.blooms ++ bx, colmap = cm,
        dead = parent.dead, defaults = parent.defaults,
        eraHi = eraHiOf(parent) + 1, props = parent.props,
        idents = parent.idents)))
      v = latestVersion(root) + 1
    v
  }

  /** Copy-on-write MERGE (upsert + optional delete).
    *
    * `updates` carries the table schema plus, when `deleteCol` is set, a
    * boolean marker column. Matched keys are updated (or deleted when the
    * marker is true); unmatched keys are inserted. Only files containing a
    * matched key are rewritten; all others are carried forward.
    */
  def merge(s: SparkSession, root: String, updates: DataFrame, key: String,
      deleteCol: Option[String] = None, txn: Option[String] = None): Int = {
    val parent = load(root, latestVersion(root))
    // MERGE's updates frame carries the full row, so identity values
    // arrive EXPLICIT — only legal for BY DEFAULT identity columns
    parent.idents.foreach { case (c, (_, _, allow)) =>
      require(allow, s"identity column '$c' is GENERATED ALWAYS — " +
        "MERGE provides explicit values; declare it BY DEFAULT, or " +
        "append() inserts instead")
    }
    // only the INCOMING side can introduce violations (survivors were
    // validated when they were appended); the delete marker column is
    // not part of the row contract
    validateChecks(deleteCol.map(d => updates.filter(!col(d)).drop(d))
      .getOrElse(updates), parent.checks, "incoming merge")
    if (parent.files.isEmpty) {
      // empty table: everything is an insert; nothing to rewrite
      val incoming = deleteCol match {
        case Some(d) => updates.filter(!col(d)).drop(d)
        case None => updates
      }
      val fresh =
        if (incoming.isEmpty) Seq.empty
        else writeData(s, root, clusterFor(incoming, parent),
          parent.statsCol, parent.bucket, parent.colmap,
          era = eraHiOf(parent) + 1)
      return commitExclusive(root, parent, fresh, "merge",
        parent.schemaJson, txn = txn)
    }
    val keys = updates.select(key).distinct()
    // merge-on-read aware: the scan reads THROUGH outstanding deletion
    // vectors, so a DV'd row can neither count as a match nor survive
    // into a rewritten file (resurrection). Rewritten files' DV entries
    // go inert (their paths leave the list); carried files' stay live.
    val withFile0 = readFilesPhysical(s, root, parent.files,
        parent.schemaJson, parent.colmap, parent.defaults)
      .withColumn("_gf_file", col("_metadata.file_path"))
    val withFile = toLogical(
      if (parent.dvs.isEmpty) withFile0
      else subtractDvs(s, root, withFile0, parent.dvs),
      parent.schemaJson, parent.colmap, extra = Seq("_gf_file"))
    // one semi-join over file metadata finds the touched files; file paths
    // are driver-side metadata (as in every CoW format)
    val touched = withFile.join(broadcast(keys), Seq(key), "left_semi")
      .select("_gf_file").distinct().collect().map(_.getString(0)).toSet
    val touchedRel = matchEntries(root, parent.files, touched)
    val carried = parent.files.filterNot(touchedRel.contains)
    val survivors = withFile
      .filter(if (touched.isEmpty) lit(false)
        else col("_gf_file").isInCollection(touched))
      .drop("_gf_file")
      .join(broadcast(keys), Seq(key), "left_anti")
    val incoming = deleteCol match {
      case Some(d) => updates.filter(!col(d)).drop(d)
      case None => updates
    }
    val rewrite = survivors.unionByName(
      incoming.select(survivors.columns.map(col).toIndexedSeq: _*))
    val fresh =
      if (touchedRel.isEmpty && incoming.isEmpty) Seq.empty
      else writeData(s, root, clusterFor(rewrite, parent),
        parent.statsCol, parent.bucket, parent.colmap,
        era = eraHiOf(parent) + 1)
    commitExclusive(root, parent, carried ++ fresh, "merge",
      parent.schemaJson,
      dvs = if (carried.isEmpty) Seq.empty else parent.dvs, txn = txn)
  }

  /** Idempotent MERGE for at-least-once upsert producers — `appendOnce`'s
    * contract for the merge verb: a redelivery of the same `txnId` is a
    * no-op returning the version that already holds it. A streaming
    * foreachBatch keyed by (appId, batchId) gets exactly-once UPSERT
    * table contents even when the sink retries a batch. (Duplicates are
    * sequential retries of one sink, not concurrent — a merge that
    * instead loses its slot to an UNRELATED writer still aborts with
    * [[ConcurrentCommitException]] and the retry re-merges against the
    * new head, which is the correct re-computation.)
    */
  def mergeOnce(s: SparkSession, root: String, updates: DataFrame,
      key: String, deleteCol: Option[String], txnId: String): Int =
    findTxn(root, txnId) match {
      case Some(v) => v // duplicate delivery: already merged
      case None => merge(s, root, updates, key, deleteCol, Some(txnId))
    }

  /** Idempotent append for at-least-once producers (the Delta `txn`
    * action): the commit carries `txnId`, and a redelivery of the same
    * `txnId` is a no-op returning the version that already holds it. A
    * streaming foreachBatch keyed by (appId, batchId) gets exactly-once
    * table contents even when the sink retries a batch.
    */
  def appendOnce(s: SparkSession, root: String, df0: DataFrame,
      txnId: String): Int = {
    // fast path only — avoids writing data files for an obvious duplicate.
    // CORRECTNESS does not depend on it: commitAppend re-checks the txn
    // before EVERY link attempt, and a winning link at head+1 proves no
    // commit (duplicate included) landed between that check and the link.
    findTxn(root, txnId) match {
      case Some(v) => v // duplicate delivery: already in
      case None =>
        val parent = load(root, latestVersion(root))
        val assigned = parent.idents.keys.toSeq.sorted
          .filterNot(df0.columns.contains)
          .map(physName(parent.colmap, _))
        val df = applyGenerated(fillIdentity(s, parent, df0), parent.gen,
          "incoming")
        validateEvolution(parent.schemaJson, df.schema)
        validateChecks(df, parent.checks, "incoming")
        val cm = widenColmap(parent, df.schema)
        val fresh = writeData(s, root, clusterFor(df, parent),
          parent.statsCol, parent.bucket, cm, era = eraHiOf(parent) + 1)
        try commitAppend(root, parent, fresh, df.schema,
          txn = Some(txnId), identAssigned = assigned,
          freshBlooms =
            appendBlooms(s, root, parent, fresh, df.schema.json),
          colmap = cm)
        catch {
          // re-run wholesale: the txn check keeps the retry idempotent
          case _: IdentityRaceException =>
            appendOnce(s, root, df0, txnId)
        }
    }
  }

  /** Newest-first txn lookup (a redelivered batch is almost always
    * recent, so the common hit is O(1) manifests, not O(history)).
    */
  private def findTxn(root: String, txnId: String): Option[Int] =
    versions(root).reverseIterator
      .find(v => load(root, v).txn.contains(txnId))

  /** OPTIMIZE: rewrite the live snapshot into `targetFiles` range-clustered
    * files (content byte-identical, history preserved — the pre-compaction
    * snapshot stays readable until vacuumed). Small-file pressure is the
    * tax every streaming-ingested table pays; this is the repair verb.
    * `clusterBy` overrides the layout key — pass a Morton/Z-order code to
    * cluster on several dimensions at once (OPTIMIZE ZORDER): per-column
    * manifest stats then prune on EACH interleaved dimension.
    */
  def compact(s: SparkSession, root: String, targetFiles: Int,
      clusterBy: Option[org.apache.spark.sql.Column] = None): Int = {
    val parent = load(root, latestVersion(root))
    // DV-aware: compaction MATERIALIZES merge-on-read deletes — the
    // rewritten files omit DV'd rows and the new snapshot carries none
    val live = readSnapshot(s, root, parent)
    val rewritten = clusterBy match {
      case Some(z) => live.withColumn("_gf_z", z)
        .repartitionByRange(targetFiles, col("_gf_z"))
        .sortWithinPartitions("_gf_z")
        .drop("_gf_z")
      case None =>
        // a declared partition spec wins over the stats column: compaction
        // must restore the layout that partition pruning depends on. A
        // retired stats role (DROP COLUMN) leaves no cluster key —
        // plain size-targeted repartition, no range clustering
        val keys = (if (parent.spec.nonEmpty) parent.spec
          else Seq(parent.statsCol).filter(_.nonEmpty)).map(col)
        if (keys.isEmpty) live.repartition(targetFiles)
        else live.repartitionByRange(targetFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
    }
    val fresh = writeData(s, root, rewritten, parent.statsCol,
      parent.bucket, parent.colmap, era = eraHiOf(parent) + 1)
    // the rewrite MATERIALIZED every initial default (it read through
    // the fill), so the defaults map is cleared — steady state after
    // OPTIMIZE is a defaults-free table
    commitExclusive(root, parent, fresh, "compact", parent.schemaJson,
      dvs = Seq.empty, blooms = rebuildBlooms(s, root, parent, fresh),
      defaults = Map.empty)
  }

  /** A full-rewrite verb replaces every file, which would silently
    * orphan the bloom index (entries key on file names) — REBUILD it
    * over the new files for the same columns (each at the fpp its index
    * was created with), one pass each, proportional to the rewrite the
    * caller already paid for.
    */
  private def rebuildBlooms(s: SparkSession, root: String,
      parent: Snapshot, fresh: Seq[FileEntry]): Seq[String] =
    if (parent.blooms.isEmpty) Seq.empty[String]
    else {
      val byPhys = schemaOf(parent.schemaJson).fieldNames
        .map(n => physName(parent.colmap, n) -> n).toMap
      parent.blooms.map(d => sidecarMeta(s, root, d))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (pc, metas) =>
          byPhys.get(pc).map(c => buildBloomSidecar(s, root, fresh,
            parent.schemaJson, parent.colmap, c, metas.head._2))
        }
    }

  /** BUCKET-LAYOUT EVOLUTION: rewrite the live snapshot into a hash-
    * bucket layout `bucket(n, bucketCol)` — or out of one
    * (`numBuckets = 0` drops the layout and range-clusters on the
    * stats column). Unlike spec evolution this is NECESSARILY O(table):
    * storage-partitioned-join correctness requires every file to hold
    * exactly one bucket id, so the verb is an explicit rewrite, priced
    * like OPTIMIZE — pay the shuffle once, join shuffle-free after.
    * DV-aware (materializes outstanding MoR deletes) and bloom-index-
    * preserving, like compact.
    */
  def rebucket(s: SparkSession, root: String, bucketCol: String,
      numBuckets: Int): Int = {
    val parent = load(root, latestVersion(root))
    val live = readSnapshot(s, root, parent)
    if (numBuckets <= 0) {
      val keys = Seq(parent.statsCol).filter(_.nonEmpty).map(col)
      val n = s.sessionState.conf.numShufflePartitions
      val declustered =
        if (keys.isEmpty) live.repartition(n) // stats role retired
        else live.repartitionByRange(n, keys: _*)
          .sortWithinPartitions(keys: _*)
      val fresh = writeData(s, root, declustered,
        parent.statsCol, None, parent.colmap, era = eraHiOf(parent) + 1)
      return commitExclusive(root, parent, fresh, "rebucket",
        parent.schemaJson, dvs = Seq.empty,
        blooms = rebuildBlooms(s, root, parent, fresh), dropBucket = true,
        defaults = Map.empty)
    }
    require(schemaOf(parent.schemaJson).fields
        .exists(f => f.name == bucketCol &&
          f.dataType == org.apache.spark.sql.types.LongType),
      s"bucket column '$bucketCol' must be an existing LONG column " +
        "(the bucket transform hash is pinned to murmur3-of-long)")
    val b = Some((bucketCol, numBuckets))
    val fresh = writeData(s, root, live, parent.statsCol, b,
      parent.colmap, era = eraHiOf(parent) + 1)
    // a bucket layout supersedes a range spec (they are mutually
    // exclusive — the manifest must not claim a clustering the
    // bucket-grouped files no longer have)
    commitExclusive(root, parent, fresh, "rebucket", parent.schemaJson,
      spec = Seq.empty, dvs = Seq.empty,
      blooms = rebuildBlooms(s, root, parent, fresh), bucket = b,
      defaults = Map.empty)
  }

  /** Partial OPTIMIZE (`OPTIMIZE … WHERE col BETWEEN lo AND hi`): the
    * operational shape at 100 TB — you compact yesterday's partition,
    * never the table. Only files whose [min,max] stats OVERLAP the
    * range (plus files with no stats for the column — they may hold
    * range rows) are rewritten; everything else is carried by
    * reference. Touched files read through outstanding DVs (their
    * MoR debt materializes); carried files keep their DVs live.
    * Fresh files get incremental bloom-sidecar entries so indexed
    * lookups keep pruning. Returns the new version.
    */
  def compactWhere(s: SparkSession, root: String, column: String,
      lo: Long, hi: Long, targetFiles: Int,
      clusterBy: Option[org.apache.spark.sql.Column] = None): Int = {
    val parent = load(root, latestVersion(root))
    val pc = physName(parent.colmap, column)
    val (touched, carried) = parent.files.partition(f =>
      f.stats.get(pc).forall { case (mn, mx) => mx >= lo && mn <= hi })
    if (touched.isEmpty)
      return commitExclusive(root, parent, parent.files, "compact",
        parent.schemaJson)
    val live = readSnapshot(s, root, parent.copy(files = touched))
    val keys = clusterBy.map(Seq(_)).getOrElse(
      (if (parent.spec.nonEmpty) parent.spec
      else Seq(parent.statsCol).filter(_.nonEmpty)).map(col))
    val rewritten =
      if (keys.isEmpty) live.repartition(targetFiles) // role retired
      else live.repartitionByRange(targetFiles, keys: _*)
        .sortWithinPartitions(keys: _*)
    val fresh = writeData(s, root, rewritten, parent.statsCol,
      parent.bucket, parent.colmap, era = eraHiOf(parent) + 1)
    // DV entries for rewritten files go inert (paths leave the list);
    // carried files' DVs must stay live — cleared only when nothing
    // is carried. Bloom entries for fresh files stack incrementally.
    commitExclusive(root, parent, carried ++ fresh, "compact",
      parent.schemaJson,
      dvs = if (carried.isEmpty) Seq.empty else parent.dvs,
      blooms = parent.blooms ++
        appendBlooms(s, root, parent, fresh, parent.schemaJson))
  }

  /** ALTER TABLE ADD CONSTRAINT: declare a named CHECK (a SQL boolean
    * expression), validating the EXISTING rows first (one scan, as Delta
    * does) — a table can never hold data its own constraints reject.
    * Metadata-only commit; every later append/merge validates its
    * incoming batch against the check at O(batch) cost.
    */
  /** ALTER TABLE ADD COLUMN: a metadata-only commit extending the
    * snapshot schema — existing files null-fill the new column on read
    * (which is why it must be nullable), exactly the additive evolution
    * an append with a wider schema performs, but without needing a
    * write to carry it.
    */
  /** `default`: an INITIAL DEFAULT literal (SQL text, e.g. `"'active'"`
    * or `"0"`): rows that predate the add read it instead of null —
    * still a metadata-only commit (the fill is decided per file from
    * its write era, no byte rewritten). Rows written at-or-after the
    * add store explicit values; their NULLs stay NULL, standard
    * initial-default semantics. The literal must be constant-foldable
    * and castable to `dataType`.
    */
  def addColumn(root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    require(!schema.fieldNames.contains(name),
      s"column '$name' already exists")
    default.foreach { d =>
      val parsed = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parseExpression(d)
      require(parsed.foldable,
        s"default for '$name' must be a constant literal, got: $d")
      // fail now, not at first read, if the literal can't take the type
      org.apache.spark.sql.catalyst.expressions.Cast(parsed, dataType)
        .eval(null)
      ()
    }
    val newField = {
      val f = org.apache.spark.sql.types.StructField(
        name, dataType, nullable = true)
      default match {
        case Some(d) => f.copy(metadata =
          // Spark's write-side default resolution keys: an INSERT that
          // omits the column takes CURRENT_DEFAULT — so the one DDL
          // gives Delta-complete semantics (old rows era-fill the
          // initial default, new short INSERTs resolve the write
          // default). Initial fill stays immutable in the manifest
          // even if the write default is later altered.
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", d)
            .putString("EXISTS_DEFAULT", d)
            .build())
        case None => f
      }
    }
    val widened = org.apache.spark.sql.types.StructType(
      schema.fields :+ newField)
    val phys = freshPhysName(parent, name)
    commitExclusive(root, parent, parent.files, "add-column", widened.json,
      colmap =
        if (phys == name) parent.colmap else parent.colmap + (name -> phys),
      defaults = default match {
        case Some(d) =>
          // threshold in ERA space (== this commit's eraHi): every
          // existing file's era sits below it, every later write above
          parent.defaults + (name -> (d, eraHiOf(parent) + 1))
        case None => null // inherit
      })
  }

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT v | DROP DEFAULT` —
    * changes the WRITE-side default only (what an INSERT omitting the
    * column resolves, via the schema's CURRENT_DEFAULT metadata). The
    * INITIAL default — what pre-add rows read, era-decided from the
    * manifest — is immutable, per the Iceberg-v3 initial-default
    * contract: altering a default must never rewrite history.
    */
  def setWriteDefault(root: String, name: String,
      default: Option[String]): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    require(schema.fieldNames.contains(name), s"no column '$name'")
    default.foreach { d =>
      val parsed = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parseExpression(d)
      require(parsed.foldable,
        s"default for '$name' must be a constant literal, got: $d")
    }
    val widened = org.apache.spark.sql.types.StructType(
      schema.fields.map { f =>
        if (f.name != name) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          default match {
            case Some(d) =>
              f.copy(metadata = mb.putString("CURRENT_DEFAULT", d).build())
            case None =>
              f.copy(metadata = mb.remove("CURRENT_DEFAULT").build())
          }
        }
      })
    commitExclusive(root, parent, parent.files, "set-default",
      widened.json)
  }

  /** A physical name for a NEW logical column: the logical name itself
    * unless some existing file already stores that physical name (a
    * dropped column's tombstone, or a renamed column's original) — then
    * old files would resurrect their values under the new column, so a
    * suffixed fresh name is allocated instead.
    */
  private def freshPhysName(parent: Snapshot, name: String): String = {
    val used = schemaOf(parent.schemaJson).fieldNames
      .map(physName(parent.colmap, _)).toSet ++ parent.dead
    if (!used.contains(name)) name
    else Iterator.from(1).map(i => s"${name}_r$i")
      .find(!used.contains(_)).get
  }

  /** Logical columns a snapshot's layout/contract metadata references —
    * rename/drop of these is refused (the references hold the name in
    * SQL text or manifest fields; silently re-pointing them is how a
    * format corrupts a table).
    */
  private def requireUnreferenced(parent: Snapshot, c: String,
      what: String): Unit = {
    require(!parent.spec.contains(c),
      s"cannot $what '$c': it is a partition column")
    require(!parent.bucket.exists(_._1 == c),
      s"cannot $what '$c': it is the bucket column")
    require(!parent.gen.contains(c),
      s"cannot $what '$c': it has a generation expression")
    require(!clusterProp(parent).contains(c),
      s"cannot $what '$c': it is a declared CLUSTER BY column")
    def refs(e: String): Set[String] =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).collect {
          case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.name
        }.toSet
    (parent.checks ++ parent.gen).foreach { case (n, e) =>
      require(!refs(e).contains(c),
        s"cannot $what '$c': referenced by '$n' ($e)")
    }
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only, the Delta
    * column-mapping idea (name mode): the PHYSICAL name in existing
    * files never changes; the snapshot schema renames the logical field
    * and `colmap` records logical → physical. Files written before AND
    * after the rename resolve the column identically, so the verb costs
    * one manifest write at any table size. A rename of the stats column
    * follows it. Bloom sidecars key on physical names, so their pruning
    * survives the rename too.
    */
  def renameColumn(root: String, from: String, to: String): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    require(schema.fieldNames.contains(from), s"no column '$from'")
    require(!schema.fieldNames.contains(to),
      s"column '$to' already exists")
    val widened = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    val phys = physName(parent.colmap, from)
    val cm = (parent.colmap - from) ++
      (if (phys == to) Map.empty[String, String] else Map(to -> phys))
    // layout and contract metadata FOLLOW the rename (like statsCol):
    // spec/bucket references re-point, CHECK and generation expressions
    // are re-written attribute-exactly — the physical layer (stats keys,
    // file bytes, bucket ids) never referenced the logical name, so the
    // whole verb stays one manifest write
    def rewrite(e: String): String =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(e).transform {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute if a.nameParts == Seq(from) =>
            org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute(Seq(to))
        }.sql
    commitExclusive(root, parent, parent.files, "rename-column",
      widened.json,
      statsCol = if (parent.statsCol == from) to else parent.statsCol,
      spec = parent.spec.map(c => if (c == from) to else c),
      checks = parent.checks.view.mapValues(rewrite).toMap,
      gen = parent.gen.map { case (c, e) =>
        (if (c == from) to else c) -> rewrite(e) },
      colmap = cm,
      bucket = parent.bucket.map { case (c, n) =>
        (if (c == from) to else c, n) },
      defaults = parent.defaults.map { case (c, v) =>
        (if (c == from) to else c) -> v },
      idents = parent.idents.map { case (c, v) =>
        (if (c == from) to else c) -> v },
      props = parent.props.map {
        case ("snap.clusterBy", v) => "snap.clusterBy" ->
          v.split(",").map(x => if (x == from) to else x).mkString(",")
        case kv => kv
      })
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: the snapshot schema loses
    * the field, old files keep the bytes (reclaimed as files rewrite),
    * and the physical name is TOMBSTONED so a later same-named ADD
    * COLUMN cannot resurrect the dropped values.
    *
    * Index/stats references RETIRE with the column instead of refusing
    * (they are optimizations, not semantics): dropping the stats/
    * cluster column clears the role (compaction stops range-clustering
    * until a new one is declared; per-column footer stats still prune),
    * and the column's bloom sidecars leave the manifest (nothing can
    * probe a dropped column; keeping them would pin the dirs live in
    * vacuum forever and tax every other column's probe). References
    * that change SEMANTICS — partition spec, bucket column, CHECK and
    * generation expressions — still refuse.
    */
  def dropColumn(root: String, name: String): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    require(schema.fieldNames.contains(name), s"no column '$name'")
    require(schema.fields.length > 1, "cannot drop the only column")
    requireUnreferenced(parent, name, "drop")
    val phys = physName(parent.colmap, name)
    val keptBlooms =
      if (parent.blooms.isEmpty) parent.blooms
      else SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession) match {
        case Some(s) =>
          parent.blooms.filterNot(d => sidecarMeta(s, root, d)._1 == phys)
        case None => parent.blooms // no session to read sidecar meta:
          // keep them (appendBlooms already treats them as dead weight)
      }
    commitExclusive(root, parent, parent.files, "drop-column",
      org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(_.name == name)).json,
      statsCol = if (parent.statsCol == name) "" else parent.statsCol,
      blooms = keptBlooms,
      colmap = parent.colmap - name,
      dead = parent.dead :+ phys,
      defaults = parent.defaults - name,
      idents = parent.idents - name)
  }

  /** TYPE WIDENING (`ALTER TABLE … ALTER COLUMN c TYPE t`): INT →
    * BIGINT and FLOAT → DOUBLE, metadata-only — parquet's reader-side
    * type promotion resolves old narrow files under the wide schema,
    * so no data file is rewritten (the Iceberg type-evolution set for
    * primitives). Safety fences:
    *
    *  - the BUCKET column refuses (`hash(int)` ≠ `hash(long)` in
    *    Spark's murmur3 — widening would silently invalidate every
    *    file's bucket claim);
    *  - identity columns refuse (they are declared BIGINT);
    *  - manifest INT64 stats were never recorded for INT32 files, so
    *    pruning and aggregate pushdown stay conservative over legacy
    *    files (missing stats = keep / bail) and resume on new files.
    */
  def widenColumn(root: String,
      column: String,
      to: org.apache.spark.sql.types.DataType): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    val f = schema.fields.find(_.name == column)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$column'"))
    val ok = (f.dataType, to) match {
      case (org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType,
        org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }
    require(ok, s"unsupported type change ${f.dataType.simpleString} " +
      s"-> ${to.simpleString}: only widening INT->BIGINT and " +
      "FLOAT->DOUBLE are metadata-only")
    parent.bucket.foreach { case (bc, _) =>
      require(bc != column,
        s"cannot widen bucket column '$column': the bucket hash is " +
          "type-sensitive — existing file claims would break")
    }
    require(!parent.idents.contains(column),
      s"cannot change the type of identity column '$column'")
    commitExclusive(root, parent, parent.files, "widen-column",
      org.apache.spark.sql.types.StructType(schema.fields.map(x =>
        if (x.name == column) x.copy(dataType = to) else x)).json)
  }

  /** Column-mapping entries for columns an APPEND introduces (additive
    * evolution): a new logical column whose name collides with a
    * tombstoned or still-stored physical name gets a fresh physical,
    * exactly like [[addColumn]].
    */
  private def widenColmap(parent: Snapshot,
      incoming: org.apache.spark.sql.types.StructType)
      : Map[String, String] = {
    val parentFields = schemaOf(parent.schemaJson).fieldNames.toSet
    val fresh = incoming.fieldNames.filterNot(parentFields)
    if (fresh.isEmpty || (parent.colmap.isEmpty && parent.dead.isEmpty))
      parent.colmap
    else {
      var used = schemaOf(parent.schemaJson).fieldNames
        .map(physName(parent.colmap, _)).toSet ++ parent.dead
      var cm = parent.colmap
      fresh.foreach { n =>
        val p =
          if (!used.contains(n)) n
          else Iterator.from(1).map(i => s"${n}_r$i")
            .find(!used.contains(_)).get
        used += p
        if (p != n) cm += (n -> p)
      }
      cm
    }
  }

  def addCheck(s: SparkSession, root: String, name: String,
      sqlExpr: String): Int = {
    val parent = load(root, latestVersion(root))
    require(!parent.checks.contains(name), s"constraint '$name' exists")
    validateChecks(readSnapshot(s, root, parent), Map(name -> sqlExpr),
      s"existing rows")
    commitExclusive(root, parent, parent.files, "add-check",
      parent.schemaJson, checks = parent.checks + (name -> sqlExpr))
  }

  /** ALTER TABLE DROP CONSTRAINT (metadata-only). */
  def dropCheck(root: String, name: String): Int = {
    val parent = load(root, latestVersion(root))
    require(parent.checks.contains(name), s"no constraint '$name'")
    commitExclusive(root, parent, parent.files, "drop-check",
      parent.schemaJson, checks = parent.checks - name)
  }

  /** Declare `column` GENERATED ALWAYS AS (`sqlExpr`) — the Delta
    * generated-columns idea, manifest-declared like CHECK constraints:
    * a metadata-only commit after which every append either COMPUTES the
    * column (when the incoming batch omits it) or VALIDATES the provided
    * values equal the expression row-for-row (a mismatch fails the
    * commit before any data writes — a silently divergent generated
    * column is worse than a failed append). Existing rows are validated
    * once, here; expressions may reference only non-generated columns
    * (no chaining), which keeps computation order trivial at any scale.
    */
  def addGenerated(s: SparkSession, root: String, column: String,
      sqlExpr: String): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    require(schema.fieldNames.contains(column),
      s"generated column '$column' is not in the table schema")
    require(!parent.gen.contains(column),
      s"column '$column' already has a generation expression")
    validateGenerated(readSnapshot(s, root, parent),
      Map(column -> sqlExpr), "existing")
    commitExclusive(root, parent, parent.files, "add-generated",
      parent.schemaJson, gen = parent.gen + (column -> sqlExpr))
  }

  /** Drop a generation expression (metadata-only; the column stays). */
  def dropGenerated(root: String, column: String): Int = {
    val parent = load(root, latestVersion(root))
    require(parent.gen.contains(column), s"'$column' is not generated")
    commitExclusive(root, parent, parent.files, "drop-generated",
      parent.schemaJson, gen = parent.gen - column)
  }

  /** Compute absent generated columns; validate provided ones. Runs on
    * every append-family write before schema/check validation.
    */
  private def applyGenerated(df: DataFrame, gen: Map[String, String],
      what: String): DataFrame =
    if (gen.isEmpty) df
    else {
      val (present, absent) = gen.toSeq.sortBy(_._1)
        .partition { case (c, _) => df.columns.contains(c) }
      validateGenerated(df, present.toMap, what)
      absent.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, expr(e)) }
    }

  /** IDENTITY column fill (`GENERATED ALWAYS AS IDENTITY`): a batch
    * that omits the column gets monotone values assigned above the
    * table's HIGH-WATER MARK, read off the manifest's per-file
    * [min,max] stats — no data scan, no sequence table, the
    * Delta-identity idea. Values are unique and step-aligned from the
    * declared start; GAPS are legal (standard identity semantics —
    * concurrent/aborted writes burn ranges), which is what lets
    * assignment stay one distributed pass (`zipWithIndex`: a count job
    * plus per-partition offsets, no global sort, no driver loop). A
    * batch that PROVIDES the column is refused unless the column was
    * declared `BY DEFAULT` (allowExplicitInsert); explicit values
    * advance the high-water mark through the ordinary file stats.
    */
  private def fillIdentity(s: SparkSession, parent: Snapshot,
      df0: DataFrame): DataFrame =
    parent.idents.toSeq.sortBy(_._1).foldLeft(df0) {
      case (d0, (c, (start, step, allow))) =>
        // SQL INSERTs that OMIT the column arrive with it padded to
        // NULL (Spark's by-name resolution can't express absence); an
        // entirely-null ALWAYS column therefore means "assign", while
        // any actual value stays refused — the Postgres/Delta contract
        val d =
          if (d0.columns.contains(c) && !allow &&
              d0.filter(col(c).isNotNull).isEmpty) d0.drop(c)
          else d0
        if (d.columns.contains(c)) {
          require(allow,
            s"identity column '$c' is GENERATED ALWAYS — explicit " +
              "values are refused (declare it BY DEFAULT to allow them)")
          d
        } else {
          val pc = physName(parent.colmap, c)
          // high-water from manifest stats; files missing stats for the
          // column (pre-identity history) can't move the mark
          val marks = parent.files.flatMap(_.stats.get(pc))
            .map { case (mn, mx) => if (step > 0) mx else mn }
          val base =
            if (marks.isEmpty) start - step
            else if (step > 0) math.max(marks.max, start - step)
            else math.min(marks.min, start - step)
          val schema = org.apache.spark.sql.types.StructType(
            d.schema.fields :+ org.apache.spark.sql.types.StructField(
              c, org.apache.spark.sql.types.LongType, nullable = false))
          val filled = s.createDataFrame(
            d.rdd.zipWithIndex().map { case (r, i) =>
              org.apache.spark.sql.Row.fromSeq(
                r.toSeq :+ (base + step * (i + 1)))
            }, schema)
          // restore the DECLARED column order (the fill appended at the
          // end; committing that order would silently reorder the table
          // schema on the first short append) — evolution-new columns
          // keep their incoming positions after the declared ones
          val declared = schemaOf(parent.schemaJson).fieldNames
            .filter(filled.columns.contains)
          val extra = filled.columns.filterNot(declared.contains)
          filled.select((declared ++ extra).map(col).toIndexedSeq: _*)
        }
    }

  private def validateGenerated(df: DataFrame,
      gen: Map[String, String], what: String): Unit =
    gen.foreach { case (c, e) =>
      if (df.columns.contains(c)) {
        val bad = df.filter(!(col(c) <=> expr(e))).count()
        if (bad > 0)
          throw new ConstraintViolationException(
            s"generated column '$c' ($e) mismatched by $bad $what row(s)")
      }
    }

  /** One pass over `df` per write: any row failing a check aborts with
    * the constraint's name and expression, BEFORE data/manifest writes.
    */
  private def validateChecks(df: DataFrame,
      checks: Map[String, String], what: String): Unit =
    checks.foreach { case (name, e) =>
      val bad = df.filter(!expr(e) || expr(e).isNull).count()
      if (bad > 0)
        throw new ConstraintViolationException(
          s"CHECK constraint '$name' ($e) violated by $bad $what row(s)")
    }

  /** SHALLOW CLONE (the Delta CLONE idea): `dstRoot` becomes a new table
    * whose v1 manifest REFERENCES the source snapshot's data files —
    * zero bytes copied, clone cost is one manifest write whatever the
    * table size. Copy-on-write makes divergence natural: appends land in
    * the clone's own data dir, merge/delete/compact rewrite into it, and
    * the source never observes any of it (nor vice versa). The
    * dependency hazard is the same one Delta documents: vacuuming the
    * SOURCE can delete files a shallow clone still references — deep-copy
    * (compact the clone) before vacuuming a cloned-from table.
    */
  def clone(s: SparkSession, srcRoot: String, dstRoot: String,
      version: Int = -1): Int = {
    val v = if (version > 0) version else latestVersion(srcRoot)
    val snap = load(srcRoot, v)
    Files.createDirectories(Paths.get(dstRoot, "_log"))
    // re-point entries at the source's data dir, relative to the clone
    // root (the table stays relocatable as a UNIT with its source)
    val rel = Paths.get(dstRoot).toAbsolutePath
      .relativize(Paths.get(srcRoot).toAbsolutePath)
    val files = snap.files.map(f =>
      f.copy(path = rel.resolve(f.path).toString))
    // DV contents name files relative to the SOURCE root; from the clone
    // those files are foreign (canonical = absolute path), so the
    // positions are RE-BASED once here. The DV is guard-bounded small —
    // the only bytes a "zero-copy" clone ever writes.
    val dvs =
      if (snap.dvs.isEmpty) Seq.empty[String]
      else {
        val srcAbs = Paths.get(srcRoot).toAbsolutePath.toString
        val dvName =
          "data/dv-" + java.util.UUID.randomUUID().toString.take(8)
        dvRead(s, srcRoot, snap.dvs)
          .withColumn("_dv_path",
            when(col("_dv_path").startsWith("/"), col("_dv_path"))
              .otherwise(concat(lit(srcAbs + "/"), col("_dv_path"))))
          .write.parquet(s"$dstRoot/$dvName")
        Seq(dvName)
      }
    // the clone IS the source table's layout: bucket and generated-column
    // metadata must carry, or clone-side writes would silently stop
    // bucketing / computing them — and a branch publish would then adopt
    // a file list whose files lack the layout main's manifest claims.
    // Bloom sidecars are NOT carried: their entries key on source-relative
    // file paths that can never match the clone's re-based paths, so a
    // carried index would cover nothing (files without entries are always
    // read — correct, just unpruned; re-index the clone to restore it).
    // initial defaults carry: thresholds live in the ERA space, and the
    // clone adopts the source's era watermark (`eraHi`) — its own
    // writes stamp strictly above every carried threshold even though
    // its VERSION numbering restarts at 1, so a defaults-bearing
    // snapshot clones with no compact-first step. Carried files keep
    // their source-era dir names, so their fill decisions are
    // unchanged from the source's.
    if (!tryLink(dstRoot, Snapshot(1, "clone", snap.statsCol,
        snap.schemaJson, files, None, snap.spec, dvs, snap.checks,
        bucket = snap.bucket, gen = snap.gen, colmap = snap.colmap,
        dead = snap.dead, defaults = snap.defaults,
        eraHi = eraHiOf(snap), props = snap.props,
        idents = snap.idents)))
      throw new ConcurrentCommitException(
        s"clone lost the race for v1 at $dstRoot — the table already exists")
    1
  }

  /** DESCRIBE HISTORY: one row per retained snapshot — version, the verb
    * that produced it, file count, and LOGICAL row count (from manifest
    * stats; no data files are opened). The audit surface operators and
    * humans page through before trusting a table.
    */
  def history(s: SparkSession, root: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = versions(root).map { v =>
      val snap = load(root, v)
      org.apache.spark.sql.Row(v.toLong, snap.op,
        snap.files.size.toLong, snap.files.map(_.rows).sum, snap.ts)
    }
    s.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("version",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType))))
  }

  /** RESTORE: re-commit `version`'s exact file list (and schema) as the
    * new head. Rollback is one manifest write — no data moves, and the
    * rolled-back commits stay in history for audit until vacuumed.
    */
  def restore(s: SparkSession, root: String, version: Int): Int = {
    val snap = load(root, version)
    val head = load(root, latestVersion(root))
    // restore the WHOLE snapshot identity: files, schema, statsCol AND
    // partition spec — carrying the head's spec would leave the manifest
    // claiming a clustering the restored files don't have
    commitExclusive(root, head, snap.files, "restore", snap.schemaJson,
      statsCol = snap.statsCol, spec = snap.spec, dvs = snap.dvs,
      checks = snap.checks, colmap = snap.colmap, dead = snap.dead,
      filesFromHint = snap.filesFrom, defaults = snap.defaults,
      props = snap.props, idents = snap.idents)
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES — user key/value metadata in
    * the manifest, versioned like everything else (history shows when a
    * property changed; RESTORE rolls properties back with the rest of
    * the snapshot identity). One metadata-only commit (filesRef-
    * eligible, O(1) at any file count). A handful of `snap.`-prefixed
    * keys are LIVE configuration the engine itself consults — e.g.
    * `snap.vacuum.retainVersions` (the default retention when VACUUM
    * names none) — everything else is inert audit metadata, the
    * Delta/Iceberg table-properties idea.
    */
  def setProperties(root: String, set: Map[String, String],
      unset: Seq[String] = Seq.empty): Int = {
    set.keys.foreach(k => require(k.nonEmpty && !k.contains('\n'),
      s"malformed property key '$k'"))
    // live-config keys with their own validated verbs must not be
    // smuggled in raw (an unvalidated snap.clusterBy would break every
    // subsequent write)
    require(!set.contains("snap.clusterBy") &&
      !unset.contains("snap.clusterBy"),
      "set/unset 'snap.clusterBy' via ALTER TABLE ... CLUSTER BY " +
        "(cols)|NONE — it validates column types and layout exclusivity")
    set.get("snap.vacuum.retainVersions").foreach(v =>
      require(v.matches("\\d+") && v.toInt >= 1,
        s"snap.vacuum.retainVersions must be a positive integer, got '$v'"))
    val parent = load(root, latestVersion(root))
    commitExclusive(root, parent, parent.files, "set-properties",
      parent.schemaJson, props = parent.props ++ set -- unset)
  }

  /** The table's effective retention for a VACUUM that names no RETAIN
    * clause: the `snap.vacuum.retainVersions` property, else 1 (live
    * snapshot only). Malformed values fail loudly — a silent fallback
    * to 1 could delete history the table declared it keeps.
    */
  def retainDefault(root: String): Int =
    load(root, latestVersion(root)).props
      .get("snap.vacuum.retainVersions") match {
      case Some(v) =>
        require(v.matches("\\d+") && v.toInt >= 1,
          s"snap.vacuum.retainVersions must be a positive integer, " +
            s"got '$v'")
        v.toInt
      case None => 1
    }

  // ---------------------------------------------------------------- refs

  /** A branch or tag name: path-safe, no traversal. */
  private def validateRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"ref name must match [A-Za-z0-9][A-Za-z0-9._-]*: '$name'")

  /** The root directory a branch's own log and data live under. Branch
    * table state is a full SnapTable rooted here; every existing verb
    * (append / merge / deleteWhere / compact / history / time travel)
    * works on a branch by operating on this root.
    */
  def branchRoot(root: String, name: String): String = {
    validateRefName(name)
    Paths.get(root, "_refs", name).toString
  }

  /** Create a zero-copy BRANCH at the current head (Iceberg-style ref):
    * a shallow clone under `root/_refs/<name>` whose v1 references the
    * fork snapshot's data files in place. Writes to the branch land in
    * the branch's own data dir; main never sees them until
    * [[publishBranch]] — the isolation half of write-audit-publish.
    * Returns the fork version.
    */
  def createBranch(s: SparkSession, root: String, name: String): Int = {
    val b = branchRoot(root, name)
    require(!Files.exists(Paths.get(b, "_log")),
      s"branch '$name' already exists at $b")
    val fork = latestVersion(root)
    clone(s, root, b, fork)
    // the fork point publish() rebases/fast-forwards against; written
    // after the clone's exclusive v1 link, so a concurrent createBranch
    // of the same name lost in clone() before reaching here
    Files.write(Paths.get(b, "fork.json"),
      s"""{"fork":$fork}""".getBytes(StandardCharsets.UTF_8))
    fork
  }

  private def forkVersion(branchRoot: String): Int = {
    val p = Paths.get(branchRoot, "fork.json")
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    """"fork":(\d+)""".r.findFirstMatchIn(s) match {
      case Some(m) => m.group(1).toInt
      case None => sys.error(s"malformed fork.json at $p: $s")
    }
  }

  def branches(root: String): Seq[String] = {
    val refs = Paths.get(root, "_refs")
    if (!Files.isDirectory(refs)) Seq.empty
    else listDir(refs).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).sorted
  }

  /** Read a branch's current state (sugar over `read(branchRoot)`). */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame =
    read(s, branchRoot(root, name))

  /** Drop a branch. Main stays intact even after a publish: published
    * files were HARD-LINKED into main's data dir, so deleting the branch
    * tree removes only the branch's private names.
    */
  def dropBranch(root: String, name: String): Unit =
    deleteRecursively(Paths.get(branchRoot(root, name)))

  /** PUBLISH a branch back to main — the commit half of
    * write-audit-publish. Zero data movement: branch-written files are
    * hard-linked into main's data dir and main's next manifest adopts
    * them.
    *
    *  - Main still at the fork point → FAST-FORWARD: main's next version
    *    is the branch head wholesale (files, schema, checks, generated
    *    columns). Any sequence of branch ops publishes this way.
    *  - Main moved since the fork → the publish is replayable only if
    *    the branch did nothing but APPEND (its new files are valid
    *    against any head); the append-shaped commit rebases onto the
    *    current head with an idempotency txn, so a crashed-and-retried
    *    publish cannot double-append. A branch that ran transforms
    *    (merge/delete/compact) against a moved main aborts with
    *    [[ConcurrentCommitException]] — same lost-update contract as
    *    [[commitExclusive]].
    *
    * Branches with outstanding deletion vectors must compact first (the
    * same resurrect-guard every CoW verb has). Returns the new main
    * version.
    */
  def publishBranch(s: SparkSession, root: String, name: String): Int = {
    val b = branchRoot(root, name)
    val bHead = load(b, latestVersion(b))
    require(bHead.dvs.isEmpty,
      s"publish of branch '$name' with outstanding merge-on-read " +
        "deletes would lose them in the re-link — compact() the branch " +
        "first to materialize them")
    val fork = forkVersion(b)
    val rootAbs = Paths.get(root).toAbsolutePath.normalize
    val bAbs = Paths.get(b).toAbsolutePath.normalize
    val (fresh, shared) = bHead.files.partition { f =>
      bAbs.resolve(f.path).normalize.startsWith(bAbs)
    }
    val sharedMapped = shared.map { f =>
      f.copy(path = rootAbs.relativize(
        bAbs.resolve(f.path).normalize).toString)
    }
    val freshMapped = fresh.map { f =>
      val src = bAbs.resolve(f.path).normalize
      val dst = rootAbs.resolve(bAbs.relativize(src))
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      f.copy(path = rootAbs.relativize(dst).toString)
    }
    val head = load(root, latestVersion(root))
    if (head.version == fork)
      // dvs: the published FILE LIST is the branch's (verified DV-free
      // above); inheriting main's head DVs would carry stale dirs whose
      // entries reference files no longer in the snapshot — a wasted
      // per-read anti-join that vacuum then keeps alive forever.
      // defaults: the branch's (the published snapshot IS the branch
      // head — both lineages share one era space, the branch forked
      // with main's watermark, so its thresholds read correctly here);
      // eraHi joins the two watermarks so main's next write stamps
      // above everything either lineage ever wrote
      commitExclusive(root, head, sharedMapped ++ freshMapped, "publish",
        bHead.schemaJson, statsCol = bHead.statsCol, spec = bHead.spec,
        dvs = Seq.empty, checks = bHead.checks, gen = bHead.gen,
        colmap = bHead.colmap, dead = bHead.dead,
        defaults = bHead.defaults, props = bHead.props,
        idents = bHead.idents,
        eraHi = math.max(eraHiOf(head), eraHiOf(bHead)) + 1)
    else {
      val transforms = versions(b).map(v => load(b, v).op)
        .filterNot(op => op == "clone" || op == "append").distinct
      if (transforms.nonEmpty) throw new ConcurrentCommitException(
        s"branch '$name' ran [${transforms.mkString(", ")}] against " +
          s"fork v$fork but main is at v${head.version} — those " +
          "rewrites are stale against the moved head; re-branch from " +
          "the current head and re-run the transforms")
      // REBASE onto a moved main: the branch's files were era-stamped
      // in the branch's lineage, which is concurrent with — not ordered
      // against — defaults main gained since the fork; their fill
      // decisions would be arbitrary. Refuse exactly that overlap.
      require(head.defaults == load(root, fork).defaults,
        s"cannot rebase-publish branch '$name': main gained or changed " +
          "initial column defaults since fork v" + fork + " — the " +
          "branch's files are concurrent with the column add, so the " +
          "default/explicit boundary is undefined for them; re-branch " +
          "from the current head")
      validateEvolution(head.schemaJson, schemaOf(bHead.schemaJson))
      commitAppend(root, head, freshMapped, schemaOf(bHead.schemaJson),
        txn = Some(s"publish:$name:${bHead.version}"),
        eraFloor = eraHiOf(bHead) + 1)
    }
  }

  /** Create an immutable TAG naming `version` (default: current head).
    * The create is a link(2) exclusive claim — tags cannot be re-pointed,
    * only dropped and re-created, so an audit trail pinned to a tag
    * cannot silently drift. Returns the tagged version.
    */
  def createTag(root: String, name: String, version: Int = -1): Int = {
    validateRefName(name)
    val v = if (version > 0) version else latestVersion(root)
    load(root, v) // fail fast on a dangling tag
    val dir = Paths.get(root, "_log", "refs")
    Files.createDirectories(dir)
    if (!linkExclusive(dir, dir.resolve(s"$name.json"),
        s"""{"tag":"$name","version":$v}"""))
      throw new ConcurrentCommitException(
        s"tag '$name' already exists — tags are immutable; drop it first")
    v
  }

  def tagVersion(root: String, name: String): Int = {
    validateRefName(name)
    val p = Paths.get(root, "_log", "refs", s"$name.json")
    require(Files.exists(p), s"no such tag '$name'")
    val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    """"version":(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
  }

  /** Read the table exactly as pinned by a tag. */
  def readTag(s: SparkSession, root: String, name: String): DataFrame =
    readVersion(s, root, tagVersion(root, name))

  def tags(root: String): Seq[(String, Int)] = {
    val dir = Paths.get(root, "_log", "refs")
    if (!Files.isDirectory(dir)) Seq.empty
    else listDir(dir).map(_.getFileName.toString)
      .collect { case n if n.endsWith(".json") => n.dropRight(5) }
      .sorted.map(n => n -> tagVersion(root, n))
  }

  def dropTag(root: String, name: String): Unit = {
    validateRefName(name)
    Files.deleteIfExists(Paths.get(root, "_log", "refs", s"$name.json"))
    ()
  }

  /** True iff every conjunct of `proven` is provably TRUE for EVERY row
    * of `f` from manifest metadata alone — then the file can leave the
    * manifest without being read (a metadata-only delete). The proof
    * needs (a) [min,max] of the column fully inside the predicate range
    * and (b) a recorded null count of ZERO: a NULL row makes the
    * predicate non-true and must SURVIVE a SQL DELETE, so a file with
    * unknown or nonzero nulls is never dropped blind.
    */
  private def provablyAllMatch(colmap: Map[String, String],
      f: FileEntry,
      proven: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    def inc(v: Long): Long = if (v == Long.MaxValue) v else v + 1
    def dec(v: Long): Long = if (v == Long.MinValue) v else v - 1
    def full(c: String, lo: Long, hi: Long): Boolean = {
      val pc = physName(colmap, c)
      f.stats.get(pc).exists { case (mn, mx) => mn >= lo && mx <= hi } &&
        f.nulls.get(pc).contains(0L)
    }
    proven.nonEmpty && proven.forall {
      case EqualTo(c, v: Long) => full(c, v, v)
      case EqualTo(c, v: Int) => full(c, v.toLong, v.toLong)
      case GreaterThan(c, v: Long) => full(c, inc(v), Long.MaxValue)
      case GreaterThan(c, v: Int) => full(c, v + 1L, Long.MaxValue)
      case GreaterThanOrEqual(c, v: Long) => full(c, v, Long.MaxValue)
      case GreaterThanOrEqual(c, v: Int) => full(c, v.toLong, Long.MaxValue)
      case LessThan(c, v: Long) => full(c, Long.MinValue, dec(v))
      case LessThan(c, v: Int) => full(c, Long.MinValue, v - 1L)
      case LessThanOrEqual(c, v: Long) => full(c, Long.MinValue, v)
      case LessThanOrEqual(c, v: Int) => full(c, Long.MinValue, v.toLong)
      case And(l, r) => provablyAllMatch(colmap, f, Seq(l)) &&
        provablyAllMatch(colmap, f, Seq(r))
      case _ => false // unsupported shapes are simply not provable
    }
  }

  /** Copy-on-write DELETE by arbitrary predicate — the GDPR-erasure verb.
    * Only files that contain a matching row are rewritten (without the
    * matches); untouched files are carried forward. Cost is proportional
    * to where the matching rows LIVE, not to the table.
    *
    * `proven` (optional) is the predicate as pushable conjuncts: files
    * whose stats PROVE every row matches are dropped METADATA-ONLY —
    * never opened — which turns the classic retention delete
    * (`WHERE day < cutoff` on the cluster column) into one manifest
    * write at any table size; only boundary files rewrite. The SQL
    * DELETE surface passes its filters here automatically.
    */
  def deleteWhere(s: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      proven: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
      : Int = {
    val parent = load(root, latestVersion(root))
    if (parent.files.isEmpty) // nothing to delete from: no-op commit
      return commitExclusive(root, parent, Seq.empty, "delete",
        parent.schemaJson)
    if (parent.dvs.nonEmpty) {
      // outstanding merge-on-read deletes: route through the DV-aware
      // rewrite (marks through the vectors, rewrites the touched files
      // reading through them) so nothing DV'd resurrects
      val withMeta = readFilesPhysical(s, root, parent.files,
          parent.schemaJson, parent.colmap, parent.defaults)
        .withColumn("_dv_path", relPathCol(root))
        .withColumn("_dv_row", col("_metadata.row_index"))
      val undeleted = withMeta.join(
        dvHinted(s, root, parent.dvs)
          .withColumnRenamed("_dv_path", "_dv_path0")
          .withColumnRenamed("_dv_row", "_dv_row0"),
        col("_dv_path") === col("_dv_path0") &&
          col("_dv_row") === col("_dv_row0"), "left_anti")
      return deleteCowUnderDvs(s, root, parent, predicate,
        toLogical(undeleted, parent.schemaJson, parent.colmap,
          extra = Seq("_dv_path", "_dv_row"))
          .filter(predicate).select("_dv_path", "_dv_row"))
    }
    // metadata-only drops first: files whose stats prove EVERY row
    // matches leave the manifest unread (the retention fast path)
    val (dropped, rest) = parent.files.partition(f =>
      provablyAllMatch(parent.colmap, f, proven))
    if (rest.isEmpty)
      return commitExclusive(root, parent, Seq.empty, "delete",
        parent.schemaJson)
    val withFile = toLogical(
      readFilesPhysical(s, root, rest, parent.schemaJson,
        parent.colmap, parent.defaults)
        .withColumn("_gf_file", col("_metadata.file_path")),
      parent.schemaJson, parent.colmap, extra = Seq("_gf_file"))
    val touched = withFile.filter(predicate)
      .select("_gf_file").distinct().collect().map(_.getString(0)).toSet
    val touchedRel = matchEntries(root, rest, touched)
    val carried = rest.filterNot(touchedRel.contains)
    // survivors are the rows where the predicate is false OR NULL — SQL
    // DELETE semantics; a bare !predicate would silently drop NULL rows
    val survivors = withFile
      .filter(if (touched.isEmpty) lit(false)
        else col("_gf_file").isInCollection(touched))
      .filter(!coalesce(predicate, lit(false)))
      .drop("_gf_file")
    val fresh =
      if (touchedRel.isEmpty) Seq.empty
      else writeData(s, root, clusterFor(survivors, parent),
        parent.statsCol, parent.bucket, parent.colmap,
        era = eraHiOf(parent) + 1)
    commitExclusive(root, parent, carried ++ fresh, "delete",
      parent.schemaJson)
  }

  // ---------------------------------------------------------------- reads

  def read(s: SparkSession, root: String): DataFrame =
    readVersion(s, root, latestVersion(root))

  /** Time travel: the table exactly as of `version`. */
  def readVersion(s: SparkSession, root: String, version: Int): DataFrame =
    readSnapshot(s, root, load(root, version))

  /** Snapshot read honoring deletion vectors: DV'd (path, row index)
    * pairs are subtracted with one left-anti join against the scan's
    * metadata columns. The DV side is broadcast ONLY while its on-disk
    * size fits `spark.sql.autoBroadcastJoinThreshold` (the write-side
    * `maxPositions` guard keeps it there in the intended regime); a DV
    * that outgrew the threshold anyway — many stacked deletes, a raised
    * guard — degrades to a shuffled anti-join, which is slower but never
    * plants an unbounded broadcast in every reader's plan.
    */
  /** `_metadata.file_path` canonicalized for DV matching: the URI scheme
    * is stripped (`file:/x`, `file:///x` → `/x` — Hadoop renders the
    * single-slash form, `Path.toUri` the triple), then a file under the
    * table root becomes root-RELATIVE — so DV entries for a table's own
    * files survive the directory moving, like the relative manifest
    * paths do. A file OUTSIDE the root (a shallow clone reading its
    * source's files) keeps its plain absolute path, which is why
    * `clone` re-bases DV contents (see there).
    */
  private[sources] def relPathCol(root: String)
      : org.apache.spark.sql.Column = {
    val abs = Paths.get(root).toAbsolutePath.toString
    val noScheme = regexp_replace(col("_metadata.file_path"),
      "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")
    when(noScheme.startsWith(abs + "/"),
      noScheme.substr(lit(abs.length + 2), length(noScheme)))
      .otherwise(noScheme)
  }

  /** On-disk bytes of the referenced DV dirs — driver-side metadata that
    * decides broadcast vs shuffle for the anti-join.
    */
  private def dvDiskBytes(root: String, dvs: Seq[String]): Long =
    dvs.map { d =>
      val dir = Paths.get(root).resolve(d)
      if (!Files.isDirectory(dir)) 0L
      else listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
    }.sum

  private def dvRead(s: SparkSession, root: String,
      dvs: Seq[String]): DataFrame =
    s.read.parquet(dvs.map(p => s"$root/$p"): _*)

  /** Deleted positions grouped per data file, ASCENDING — the shape the
    * native scan's per-file readers consume with one advancing pointer.
    * Driver-side collect bounded by the DV-size guard (`maxPositions`
    * caps each MoR commit; an over-guard DV materialized via CoW long
    * before reaching here) — the same order of driver bytes the
    * broadcast-hinted anti-join plan ships.
    */
  private[sources] def dvPositionsByFile(s: SparkSession, root: String,
      dvs: Seq[String]): Map[String, Array[Long]] =
    dvRead(s, root, dvs)
      .groupBy("_dv_path")
      .agg(sort_array(collect_set(col("_dv_row"))).as("rows"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .toMap

  /** True iff the DV set is small enough to broadcast. A negative
    * threshold (broadcast disabled) always says no.
    */
  private def dvBroadcastable(s: SparkSession, root: String,
      dvs: Seq[String]): Boolean = {
    val limit = s.sessionState.conf.autoBroadcastJoinThreshold
    limit >= 0 && dvDiskBytes(root, dvs) <= limit
  }

  private def dvHinted(s: SparkSession, root: String,
      dvs: Seq[String]): DataFrame = {
    val dv = dvRead(s, root, dvs)
    if (dvBroadcastable(s, root, dvs)) broadcast(dv) else dv
  }

  /** Subtract DV positions from `base`, which MUST be the raw file scan
    * (metadata columns don't survive joins/projections). Shared by the
    * API reads, the SQL read path and the CDC sides.
    */
  private[sources] def subtractDvs(s: SparkSession, root: String,
      base: DataFrame, dvs: Seq[String]): DataFrame = {
    val cols = base.columns.toIndexedSeq
    base
      .withColumn("_gf_p", relPathCol(root))
      .withColumn("_gf_ri", col("_metadata.row_index"))
      .join(dvHinted(s, root, dvs),
        col("_gf_p") === col("_dv_path") &&
          col("_gf_ri") === col("_dv_row"), "left_anti")
      .select(cols.map(col): _*)
  }

  private def readSnapshot(s: SparkSession, root: String,
      snap: Snapshot): DataFrame = {
    // DV subtraction needs the scan's metadata columns, which the
    // logical-aliasing projection strips — so subtract on the PHYSICAL
    // frame first, then alias
    val base = readFilesPhysical(s, root, snap.files, snap.schemaJson,
      snap.colmap, snap.defaults)
    val sub =
      if (snap.dvs.isEmpty || snap.files.isEmpty) base
      else subtractDvs(s, root, base, snap.dvs)
    toLogical(sub, snap.schemaJson, snap.colmap)
  }

  /** Merge-on-read DELETE (the Delta deletion-vector / Iceberg v2
    * position-delete idea): instead of rewriting every file that holds a
    * matching row, commit a DELETION VECTOR — the (file, row index)
    * positions of the deleted rows — and leave the data files untouched.
    * Delete cost is proportional to the MATCHES (positions written),
    * not to where they live; reads subtract the DV; OPTIMIZE (compact)
    * materializes the deletes and clears the vectors. The trade against
    * CoW `deleteWhere` is the classic one: O(matches) write now, a
    * per-read anti-join until compaction.
    */
  /** Above this many matched positions the MoR delete FALLS BACK to a
    * (DV-aware) copy-on-write rewrite of the touched files: a DV this
    * big stops being "a handful of positions" and starts taxing every
    * subsequent read, while the rewrite is paid once. ~1M positions is a
    * few MB of parquet — comfortably under the default broadcast
    * threshold, so reads of guard-compliant tables stay broadcast-shaped.
    */
  val DvMaxPositions: Long = 1L << 20

  def deleteWhereMoR(s: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      maxPositions: Long = DvMaxPositions): Int = {
    val parent = load(root, latestVersion(root))
    if (parent.files.isEmpty)
      return commitExclusive(root, parent, Seq.empty, "delete-mor",
        parent.schemaJson)
    // metadata cols must be captured on the raw scan (they don't survive
    // joins/projections); prior DVs are then subtracted explicitly so a
    // second MoR delete doesn't re-mark already-deleted positions
    val withMeta = readFilesPhysical(s, root, parent.files,
        parent.schemaJson, parent.colmap, parent.defaults)
      .withColumn("_dv_path", relPathCol(root))
      .withColumn("_dv_row", col("_metadata.row_index"))
    val undeleted =
      if (parent.dvs.isEmpty) withMeta
      else withMeta.join(
        dvHinted(s, root, parent.dvs)
          .withColumnRenamed("_dv_path", "_dv_path0")
          .withColumnRenamed("_dv_row", "_dv_row0"),
        col("_dv_path") === col("_dv_path0") &&
          col("_dv_row") === col("_dv_row0"), "left_anti")
    val marked = toLogical(undeleted, parent.schemaJson, parent.colmap,
        extra = Seq("_dv_path", "_dv_row"))
      .filter(predicate)
      .select("_dv_path", "_dv_row")
      .persist()
    try {
      val matched = marked.count()
      if (matched == 0L)
        commitExclusive(root, parent, parent.files, "delete-mor",
          parent.schemaJson)
      else if (matched > maxPositions)
        deleteCowUnderDvs(s, root, parent, predicate, marked)
      else {
        // per-file DV shape: positions hash-clustered by data file, so no
        // single task funnels the whole vector and one data file's
        // positions always live in exactly one DV part file. The
        // partition count is explicit (AQE never coalesces a numbered
        // repartition) and capped by the touched-file count — a
        // single-file delete still writes a single part.
        val touchedFiles = marked.select("_dv_path").distinct().count()
        val parts = math.min(
          s.sessionState.conf.numShufflePartitions.toLong,
          math.max(1L, touchedFiles)).toInt
        val dvName =
          "data/dv-" + java.util.UUID.randomUUID().toString.take(8)
        marked.repartition(parts, col("_dv_path"))
          .sortWithinPartitions("_dv_path", "_dv_row")
          .write.parquet(s"$root/$dvName")
        commitExclusive(root, parent, parent.files, "delete-mor",
          parent.schemaJson, dvs = parent.dvs :+ dvName)
      }
    } finally { marked.unpersist(false); () }
  }

  /** The over-threshold fallback: rewrite only the files holding a match,
    * reading survivors THROUGH the existing deletion vectors (so nothing
    * DV'd resurrects). DV entries referencing a rewritten file become
    * inert — their paths leave the file list, so the read-side anti-join
    * can never match them again — while entries for carried files stay
    * live; the dirs are reclaimed when compaction or vacuum retires them.
    */
  private def deleteCowUnderDvs(s: SparkSession, root: String,
      parent: Snapshot, predicate: org.apache.spark.sql.Column,
      marked: DataFrame): Int = {
    // touched paths are canonical (root-relative for own files, absolute
    // for a clone's foreign files) — match manifest entries both ways;
    // the list is manifest-sized driver data
    val touched = marked.select("_dv_path").distinct()
      .collect().map(_.getString(0)).toSet
    val rootAbs = Paths.get(root).toAbsolutePath
    def hit(f: FileEntry): Boolean =
      touched.contains(f.path) || touched.contains(
        rootAbs.resolve(f.path).normalize().toString)
    val touchedEntries = parent.files.filter(hit)
    if (touchedEntries.isEmpty) // no file holds a match: no-op commit
      return commitExclusive(root, parent, parent.files, "delete",
        parent.schemaJson)
    val carried = parent.files.filterNot(hit)
    val scan = readFilesPhysical(s, root, touchedEntries,
        parent.schemaJson, parent.colmap, parent.defaults)
      .withColumn("_dv_path", relPathCol(root))
      .withColumn("_dv_row", col("_metadata.row_index"))
    val visible =
      if (parent.dvs.isEmpty) scan
      else scan.join(
        dvHinted(s, root, parent.dvs)
          .withColumnRenamed("_dv_path", "_dv_path0")
          .withColumnRenamed("_dv_row", "_dv_row0"),
        col("_dv_path") === col("_dv_path0") &&
          col("_dv_row") === col("_dv_row0"), "left_anti")
    // NULL-predicate rows are NOT deleted (SQL DELETE semantics), so
    // they must survive the rewrite
    val survivors = toLogical(visible, parent.schemaJson, parent.colmap,
        extra = Seq("_dv_path", "_dv_row"))
      .filter(!coalesce(predicate, lit(false)))
      .drop("_dv_path", "_dv_row")
    val fresh =
      if (survivors.isEmpty) Seq.empty
      else writeData(s, root, clusterFor(survivors, parent),
        parent.statsCol, parent.bucket, parent.colmap,
        era = eraHiOf(parent) + 1)
    commitExclusive(root, parent, carried ++ fresh, "delete",
      parent.schemaJson)
  }

  /** Merge-on-read UPDATE: instead of rewriting every file that holds
    * a match (the CoW shape), ONE commit adds (a) a deletion vector
    * over the matched positions and (b) fresh files holding the
    * TRANSFORMED matched rows. Cost is O(matches) — write the updated
    * rows, not their neighborhoods — against CoW's O(touched files);
    * the trade is the usual MoR one, a per-read anti-join until
    * OPTIMIZE. Above `maxPositions` it falls back to a (DV-aware) CoW
    * rewrite of the touched files, same policy as the MoR delete.
    * `set` maps column → SQL expression over the PRE-update row;
    * CHECK constraints and generation expressions validate over the
    * transformed rows before anything links. NULL-predicate rows are
    * not updated (SQL UPDATE semantics).
    */
  def updateWhereMoR(s: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, String],
      maxPositions: Long = DvMaxPositions): Int = {
    val parent = load(root, latestVersion(root))
    val schema = schemaOf(parent.schemaJson)
    set.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"SET column '$c' is not in the table schema"))
    if (parent.files.isEmpty)
      return commitExclusive(root, parent, Seq.empty, "update-mor",
        parent.schemaJson)
    def applySet(rows: DataFrame): DataFrame =
      rows.select(schema.fieldNames.toIndexedSeq.map(c =>
        set.get(c).map(e => expr(e).cast(schema(c).dataType).as(c))
          .getOrElse(col(c))): _*)
    val withMeta = readFilesPhysical(s, root, parent.files,
        parent.schemaJson, parent.colmap, parent.defaults)
      .withColumn("_dv_path", relPathCol(root))
      .withColumn("_dv_row", col("_metadata.row_index"))
    val undeleted =
      if (parent.dvs.isEmpty) withMeta
      else withMeta.join(
        dvHinted(s, root, parent.dvs)
          .withColumnRenamed("_dv_path", "_dv_path0")
          .withColumnRenamed("_dv_row", "_dv_row0"),
        col("_dv_path") === col("_dv_path0") &&
          col("_dv_row") === col("_dv_row0"), "left_anti")
    val matched = toLogical(undeleted, parent.schemaJson, parent.colmap,
        extra = Seq("_dv_path", "_dv_row"))
      .filter(predicate)
      .persist()
    try {
      val n = matched.count()
      if (n == 0L)
        commitExclusive(root, parent, parent.files, "update-mor",
          parent.schemaJson)
      else if (n > maxPositions)
        updateCowUnderDvs(s, root, parent, predicate,
          matched.select("_dv_path", "_dv_row"), set, applySet)
      else {
        val updated = applySet(matched.drop("_dv_path", "_dv_row"))
        validateChecks(updated, parent.checks, "updated")
        validateGenerated(updated, parent.gen, "updated")
        val touchedFiles =
          matched.select("_dv_path").distinct().count()
        val parts = math.min(
          s.sessionState.conf.numShufflePartitions.toLong,
          math.max(1L, touchedFiles)).toInt
        val dvName =
          "data/dv-" + java.util.UUID.randomUUID().toString.take(8)
        matched.select("_dv_path", "_dv_row")
          .repartition(parts, col("_dv_path"))
          .sortWithinPartitions("_dv_path", "_dv_row")
          .write.parquet(s"$root/$dvName")
        val fresh = writeData(s, root,
          clusterFor(updated, parent), parent.statsCol,
          parent.bucket, parent.colmap, era = eraHiOf(parent) + 1)
        commitExclusive(root, parent, parent.files ++ fresh,
          "update-mor", parent.schemaJson,
          dvs = parent.dvs :+ dvName)
      }
    } finally { matched.unpersist(false); () }
  }

  /** The over-threshold fallback: CoW-rewrite only the files holding a
    * match, reading survivors through existing DVs, transforming the
    * matched rows in place.
    */
  private def updateCowUnderDvs(s: SparkSession, root: String,
      parent: Snapshot, predicate: org.apache.spark.sql.Column,
      marked: DataFrame, set: Map[String, String],
      applySet: DataFrame => DataFrame): Int = {
    val touched = marked.select("_dv_path").distinct()
      .collect().map(_.getString(0)).toSet
    val rootAbs = Paths.get(root).toAbsolutePath
    def hit(f: FileEntry): Boolean =
      touched.contains(f.path) || touched.contains(
        rootAbs.resolve(f.path).normalize().toString)
    val touchedEntries = parent.files.filter(hit)
    val carried = parent.files.filterNot(hit)
    val scan = readFilesPhysical(s, root, touchedEntries,
        parent.schemaJson, parent.colmap, parent.defaults)
      .withColumn("_dv_path", relPathCol(root))
      .withColumn("_dv_row", col("_metadata.row_index"))
    val visible =
      if (parent.dvs.isEmpty) scan
      else scan.join(
        dvHinted(s, root, parent.dvs)
          .withColumnRenamed("_dv_path", "_dv_path0")
          .withColumnRenamed("_dv_row", "_dv_row0"),
        col("_dv_path") === col("_dv_path0") &&
          col("_dv_row") === col("_dv_row0"), "left_anti")
    val logical = toLogical(visible, parent.schemaJson, parent.colmap,
      extra = Seq("_dv_path", "_dv_row"))
      .drop("_dv_path", "_dv_row")
    val schema = schemaOf(parent.schemaJson)
    // matched rows transform, the rest of the SAME files copy
    // verbatim — all SET expressions evaluate over the PRE-update row
    val rewritten = logical.select(schema.fieldNames.toIndexedSeq
      .map { c =>
        set.get(c) match {
          case Some(e) => when(coalesce(predicate, lit(false)),
            expr(e).cast(schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    val updatedOnly = applySet(logical.filter(predicate))
    validateChecks(updatedOnly, parent.checks, "updated")
    validateGenerated(updatedOnly, parent.gen, "updated")
    val fresh =
      if (rewritten.isEmpty) Seq.empty
      else writeData(s, root, clusterFor(rewritten, parent),
        parent.statsCol, parent.bucket, parent.colmap,
        era = eraHiOf(parent) + 1)
    commitExclusive(root, parent, carried ++ fresh, "update",
      parent.schemaJson,
      dvs = if (carried.isEmpty) Seq.empty else parent.dvs)
  }

  /** Range read with manifest-level file skipping on ANY stats'd column:
    * only files whose [min,max] for `column` overlaps [lo,hi] are scanned
    * (files without stats for it are kept conservatively); the exact
    * predicate still applies to the survivors. Returns the pruned frame
    * plus the (scanned, total) file counts so callers can assert the skip
    * happened.
    */
  def readRange(s: SparkSession, root: String, column: String, lo: Long,
      hi: Long): (DataFrame, Int, Int) = {
    val snap = load(root, latestVersion(root))
    val hit = snap.files.filter(
      _.stats.get(physName(snap.colmap, column))
      .forall { case (mn, mx) => mx >= lo && mn <= hi })
    val df = readSnapshot(s, root, snap.copy(files = hit))
      .filter(col(column) >= lo && col(column) <= hi)
    (df, hit.size, snap.files.size)
  }

  /** Range read on the declared cluster column. */
  def readRange(s: SparkSession, root: String, lo: Long, hi: Long)
      : (DataFrame, Int, Int) = {
    val snap = load(root, latestVersion(root))
    readRange(s, root, snap.statsCol, lo, hi)
  }

  // --------------------------------------------------------- bloom index

  /** k bit positions for a 64-bit hash via Kirsch-Mitzenmacher double
    * hashing (`h1 + i*h2 mod m`) — the standard way to get k independent
    * probes from one hash. Pinned here once; build and probe both call
    * it, so they can never disagree.
    */
  private def bloomPositions(h: Long, m: Int, k: Int): Array[Int] = {
    val h1 = (h & 0xffffffffL).toInt
    val h2 = (h >>> 32).toInt
    Array.tabulate(k)(i => math.floorMod(h1 + i * h2, m))
  }

  private def bloomSet(bits: Array[Byte], pos: Array[Int]): Unit =
    pos.foreach(p => bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte)

  private def bloomHas(bits: Array[Byte], pos: Array[Int]): Boolean =
    pos.forall(p => (bits(p >> 3) & (1 << (p & 7))) != 0)

  /** Distributed per-group bloom build: constant-size state (the m-bit
    * set), one pass, map-side partials — the aggregation shape that
    * scales to a billion rows per file.
    */
  private class BloomAgg(mBits: Int, k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = new Array[Byte](mBits / 8)
    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      bloomSet(b, bloomPositions(h, mBits, k)); b
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(r: Array[Byte]): Array[Byte] = r
    override def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
    override def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Build a per-file BLOOM INDEX over `column` (integral or string) and
    * commit it as a parquet SIDECAR (Iceberg's puffin-file idea): rows
    * `(file, col, m, k, fpp, bits)`, one per data file. Pruning for
    * equality lookups on columns whose values are UNCORRELATED with the
    * file layout — where per-file [min,max] spans the whole domain and
    * range stats can't skip anything. Sized from the largest file's row
    * count for ~`fpp` false positives; the index is data-derived, so a
    * commit racing it loses nothing (abort + re-run, like any transform).
    *
    * A re-index RETIRES the column's previous sidecars (they cover a
    * stale file set; keeping them would make every probe scan stacked
    * dead indexes and vacuum keep them alive forever). Appends KEEP the
    * index fresh incrementally: each append-family commit builds sidecar
    * entries for just its fresh files (see [[appendBlooms]]).
    */
  def addBloomIndex(s: SparkSession, root: String, column: String,
      fpp: Double = 0.01): Int = {
    val parent = load(root, latestVersion(root))
    require(parent.files.nonEmpty, "bloom index over an empty table")
    val dirName =
      buildBloomSidecar(s, root, parent.files, parent.schemaJson,
        parent.colmap, column, fpp, parent.defaults)
    // sidecars key on the PHYSICAL name, so the same-column comparison
    // (and the index itself) survives a logical rename
    val phys = physName(parent.colmap, column)
    val kept = parent.blooms
      .filterNot(d => sidecarMeta(s, root, d)._1 == phys)
    commitExclusive(root, parent, parent.files, "bloom-index",
      parent.schemaJson, blooms = kept :+ dirName)
  }

  /** The (column, fpp) a sidecar dir covers — one column per dir by
    * construction. Pre-`fpp` sidecars report the build default 0.01.
    * Driver-side metadata read (one footer + one row).
    */
  private def sidecarMeta(s: SparkSession, root: String,
      dir: String): (String, Double) = {
    val df = s.read.parquet(s"$root/$dir")
    val r =
      (if (df.columns.contains("fpp")) df.select(col("col"), col("fpp"))
       else df.select(col("col"), lit(0.01).as("fpp"))).head()
    (r.getString(0), r.getDouble(1))
  }

  /** Incremental index maintenance for append-shaped commits: one
    * sidecar per indexed column covering ONLY the fresh files — one pass
    * over the incoming batch per index, never the table. Returns the new
    * sidecar dirs (stacked onto the snapshot's list; each dir covers a
    * disjoint file set, unlike a same-column re-index which replaces).
    */
  private def appendBlooms(s: SparkSession, root: String,
      parent: Snapshot, fresh: Seq[FileEntry],
      schemaJson: String): Seq[String] =
    if (parent.blooms.isEmpty || fresh.isEmpty) Seq.empty
    else {
      // sidecars store PHYSICAL names; resolve each back to its current
      // logical column (a since-dropped column has none — its index is
      // dead weight and gets no fresh entries)
      val byPhys = schemaOf(parent.schemaJson).fieldNames
        .map(n => physName(parent.colmap, n) -> n).toMap
      parent.blooms.map(d => sidecarMeta(s, root, d))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .flatMap { case (pc, metas) =>
          byPhys.get(pc).map(c => buildBloomSidecar(s, root, fresh,
            schemaJson, parent.colmap, c, metas.head._2))
        }
    }

  /** Write one bloom sidecar over `files` for `column`; returns its
    * root-relative dir. Sized from the largest file's row count for
    * ~`fpp` false positives. The column is hashed in the PROBE's type —
    * integral columns cast to long first, because Spark's xxhash64 of an
    * INT differs from the same value hashed as a BIGINT, and the point
    * lookup probes with a long literal; a type the probes don't support
    * is rejected here rather than silently yielding false negatives.
    */
  private def buildBloomSidecar(s: SparkSession, root: String,
      files: Seq[FileEntry], schemaJson: String,
      colmap: Map[String, String], column: String,
      fpp: Double = 0.01,
      defaults: Map[String, (String, Int)] = Map.empty): String = {
    import org.apache.spark.sql.types._
    val phys = physName(colmap, column)
    val hashed = schemaOf(schemaJson)(column).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(phys).cast(LongType)
      case StringType => col(phys)
      case other => throw new IllegalArgumentException(
        s"bloom index on '$column': unsupported type ${other.sql} " +
          "(integral and string columns only — the probe literal must " +
          "hash identically to the build)")
    }
    val n = files.map(_.rows).max.toDouble
    val ln2sq = math.log(2) * math.log(2)
    val mRaw = math.ceil(n * math.log(1 / fpp) / ln2sq).toLong
    // byte-aligned, bounded: 1 KiB floor (tiny files), 4 MiB ceiling
    val mBits = math.min(math.max(mRaw, 8L << 10), 8L << 22).toInt / 8 * 8
    val k = math.max(1, math.round(mBits / n * math.log(2)).toInt)
    val agg = udaf(new BloomAgg(mBits, k))
    val dirName = "data/bx-" + java.util.UUID.randomUUID().toString.take(8)
    readFilesPhysical(s, root, files, schemaJson, colmap, defaults)
      .withColumn("_gf_bf", relPathCol(root))
      .groupBy(col("_gf_bf").as("file"))
      .agg(agg(xxhash64(hashed)).as("bits"))
      // `col` records the PHYSICAL name: the index outlives renames
      .select(col("file"), lit(phys).as("col"), lit(mBits).as("m"),
        lit(k).as("k"), lit(fpp).as("fpp"), col("bits"))
      // one row per FILE; written at the aggregation's own parallelism —
      // a wide table's index (100k files × MB-scale bitsets) must not
      // funnel through one task
      .write.parquet(s"$root/$dirName")
    dirName
  }

  /** Equality point lookup through every pruning layer the snapshot has:
    * manifest range stats first, then the bloom sidecars. The bloom
    * check runs WHERE THE INDEX LIVES (executors) and only surviving
    * file names return to the driver — the collect is bounded by the
    * match count, never the table. Files without an index entry are
    * read unconditionally. Returns (frame, filesRead, filesTotal).
    */
  def readPoint(s: SparkSession, root: String, column: String,
      value: Long): (DataFrame, Int, Int) = {
    val snap = load(root, latestVersion(root))
    // layer 1: range stats (free; exact on the clustered column) —
    // manifest stats key on PHYSICAL names, like everything on-file
    val pc = physName(snap.colmap, column)
    val statsHit = snap.files.filter(_.stats.get(pc)
      .forall { case (mn, mx) => mx >= value && mn <= value })
    val hit = bloomNarrow(s, root, snap, column, lit(value), statsHit)
    val df = readSnapshot(s, root, snap.copy(files = hit))
      .filter(col(column) === value)
    (df, hit.size, snap.files.size)
  }

  /** String point lookup: layer 1 is the STRING manifest bounds
    * (`sstats`), layer 2 the same bloom probe (xxhash64 hashes the
    * string exactly as the build did).
    */
  def readPoint(s: SparkSession, root: String, column: String,
      value: String): (DataFrame, Int, Int) = {
    val snap = load(root, latestVersion(root))
    val pc = physName(snap.colmap, column)
    val statsHit = snap.files.filter(_.sstats.get(pc)
      .forall { case (mn, mx) => mn <= value && value <= mx })
    val hit = bloomNarrow(s, root, snap, column, lit(value), statsHit)
    val df = readSnapshot(s, root, snap.copy(files = hit))
      .filter(col(column) === value)
    (df, hit.size, snap.files.size)
  }

  /** Layer-2 bloom narrowing shared by the typed lookups: hash once with
    * the SAME function as the build (spark's xxhash64 of the literal),
    * probe where the index lives, collect ONE (file, survives) verdict
    * per indexed file — a single driver collect per lookup, bounded by
    * the indexed-file count. Files the index doesn't cover stay in.
    */
  private def bloomNarrow(s: SparkSession, root: String, snap: Snapshot,
      column: String, valueLit: org.apache.spark.sql.Column,
      statsHit: Seq[FileEntry]): Seq[FileEntry] =
    if (snap.blooms.isEmpty) statsHit
    else {
      val h = s.range(1).select(xxhash64(valueLit)).head().getLong(0)
      val might = udf((bits: Array[Byte], m: Int, k: Int) =>
        bloomHas(bits, bloomPositions(h, m, k)))
      // sidecars may legally stack per column (incremental appends cover
      // disjoint file sets), so the verdict for a file is the OR of its
      // entries — max of booleans after the grouped probe
      val verdict = s.read
        .parquet(snap.blooms.map(p => s"$root/$p"): _*)
        .filter(col("col") === physName(snap.colmap, column))
        .select(col("file"),
          might(col("bits"), col("m"), col("k")).as("ok"))
        .groupBy("file").agg(max(col("ok")).as("ok"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      statsHit.filter(f => verdict.getOrElse(f.path, true))
    }

  /** Signed CDC delta for incremental view maintenance: every row of
    * every ADDED file with `_sign = +1`, every row of every REMOVED file
    * with `_sign = -1`. Rows a rewrite merely copied cancel out under any
    * LINEAR aggregate (sum, count, dot products) — so a downstream
    * aggregate is maintained by adding `sum(_sign * metric)` deltas,
    * reading only the files the commit touched. Non-linear aggregates
    * (min/max/distinct) need `changes()` + targeted recompute instead.
    * Both sides emit under the TO snapshot's schema (like `changes()`),
    * so the delta spans RENAME COLUMN boundaries: pre-images resolve
    * through the stable physical names to the current logical names.
    */
  def changesDelta(s: SparkSession, root: String, from: Int, to: Int)
      : DataFrame = {
    val a = load(root, from)
    val b = load(root, to)
    val aPaths = a.files.map(_.path).toSet
    val bPaths = b.files.map(_.path).toSet
    val removed = a.files.filterNot(f => bPaths.contains(f.path))
    val added = b.files.filterNot(f => aPaths.contains(f.path))
    val carried = b.files.filter(f => aPaths.contains(f.path))
    // each side reads under ITS endpoint's deletion vectors (a row of an
    // added file that is already DV'd at `to` was never visible — +1 must
    // skip it; a row of a removed file that was DV'd at `from` was
    // already gone — -1 must skip it) but under the TO snapshot's schema
    // and column mapping: physical names are stable across RENAME COLUMN,
    // so pre-images of a renamed column surface under its CURRENT logical
    // name and the union is well-formed across a rename boundary. A
    // column added in the range null-fills on the -1 side (sums to 0 —
    // the old snapshot had no values for it), one dropped in the range
    // leaves the delta like it leaves the table.
    def side(fs: Seq[FileEntry], dvs: Seq[String],
        sign: Int): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(readSnapshot(s, root, b.copy(files = fs, dvs = dvs))
        .withColumn("_sign", lit(sign)))
    // MoR deletes on CARRIED files surface as position-diff rows: a
    // position DV'd at `to` but not at `from` is a -1 (the row was
    // deleted without any file changing); one removed from the DV set
    // (RESTORE to a pre-delete snapshot) is a +1 resurrect. Positions
    // referencing added/removed files drop out of the inner join —
    // those rows are already accounted for by the file sides.
    val dvSides: Seq[DataFrame] =
      if (a.dvs == b.dvs || carried.isEmpty) Seq.empty
      else {
        // position diffs are subsets of the endpoint DVs, so the
        // endpoints' combined disk size bounds them: broadcast only
        // while THAT fits the threshold, like every other DV consumer
        val small = dvBroadcastable(s, root, a.dvs ++ b.dvs)
        def dvDf(snap: Snapshot): Option[DataFrame] =
          if (snap.dvs.isEmpty) None
          else Some(dvRead(s, root, snap.dvs))
        def posDiff(x: Option[DataFrame], y: Option[DataFrame]) =
          (x, y) match {
            case (None, _) => None
            case (Some(xd), None) => Some(xd)
            case (Some(xd), Some(yd)) => Some(xd.join(yd,
              Seq("_dv_path", "_dv_row"), "left_anti"))
          }
        def rowsAt(positions: DataFrame, sign: Int): DataFrame = {
          val base = readFilesPhysical(s, root, carried, b.schemaJson,
            b.colmap, b.defaults)
          val cols = base.columns.toIndexedSeq
          toLogical(base
            .withColumn("_gf_p", relPathCol(root))
            .withColumn("_gf_ri", col("_metadata.row_index"))
            .join(if (small) broadcast(positions) else positions,
              col("_gf_p") === col("_dv_path") &&
                col("_gf_ri") === col("_dv_row"))
            .select(cols.map(col): _*), b.schemaJson, b.colmap)
            .withColumn("_sign", lit(sign))
        }
        Seq(posDiff(dvDf(b), dvDf(a)).map(rowsAt(_, -1)),
          posDiff(dvDf(a), dvDf(b)).map(rowsAt(_, 1))).flatten
      }
    val sides =
      Seq(side(added, b.dvs, 1), side(removed, a.dvs, -1)).flatten ++
        dvSides
    sides.reduceOption(_ unionByName _).getOrElse(
      readFiles(s, root, b.files, b.schemaJson, b.colmap, b.defaults)
        .withColumn("_sign", lit(1)).limit(0))
  }

  /** File-diff CDC: row changes between two snapshots, classified
    * insert / update / delete. Reads ONLY files added or removed between
    * the snapshots (plus, under merge-on-read, the DV position diffs on
    * carried files); a row copied verbatim into a rewritten file is
    * `unchanged` and filtered out. Emits the post-image for inserts and
    * updates, the pre-image for deletes. DV-aware on both endpoints:
    * each side is the rows VISIBLE at its snapshot, so a MoR delete
    * classifies as a delete with no file diff at all, and a RESTORE
    * past a MoR delete classifies the resurrected rows as inserts.
    */
  def changes(s: SparkSession, root: String, from: Int, to: Int,
      key: String): DataFrame = {
    val a = load(root, from)
    val b = load(root, to)
    val aPaths = a.files.map(_.path).toSet
    val bPaths = b.files.map(_.path).toSet
    val removed = a.files.filterNot(f => bPaths.contains(f.path))
    val added = b.files.filterNot(f => aPaths.contains(f.path))
    val carried = b.files.filter(f => aPaths.contains(f.path))
    // both sides read under the TO snapshot's schema: pre-images of rows
    // that predate an added column surface it as null, like the table does
    val schemaRef = readFiles(s, root,
      if (removed.nonEmpty) removed else added, b.schemaJson, b.colmap,
      b.defaults)
    // each side reads under ITS endpoint's deletion vectors (b.copy
    // keeps the to-schema while swapping in the endpoint's DV set): a
    // row invisible at an endpoint was never part of that side's image
    def side(fs: Seq[FileEntry], dvs: Seq[String]): DataFrame =
      if (fs.nonEmpty)
        readSnapshot(s, root, b.copy(files = fs, dvs = dvs))
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schemaRef.schema)
    // merge-on-read deletes on CARRIED files are row-level diffs with no
    // file diff: a position DV'd at `to` but not `from` left the table
    // (a pre-image with no post-image → classifies delete); one removed
    // from the DV set (RESTORE) resurrected (→ insert)
    def carriedAt(positions: DataFrame): DataFrame = {
      val base = readFilesPhysical(s, root, carried, b.schemaJson,
        b.colmap, b.defaults)
      val cols = base.columns.toIndexedSeq
      val small = dvBroadcastable(s, root, a.dvs ++ b.dvs)
      toLogical(base
        .withColumn("_gf_p", relPathCol(root))
        .withColumn("_gf_ri", col("_metadata.row_index"))
        .join(if (small) broadcast(positions) else positions,
          col("_gf_p") === col("_dv_path") &&
            col("_gf_ri") === col("_dv_row"))
        .select(cols.map(col): _*), b.schemaJson, b.colmap)
    }
    def dvDf(snap: Snapshot): Option[DataFrame] =
      if (snap.dvs.isEmpty) None else Some(dvRead(s, root, snap.dvs))
    def posDiff(x: Option[DataFrame], y: Option[DataFrame]) =
      (x, y) match {
        case (None, _) => None
        case (Some(xd), None) => Some(xd)
        case (Some(xd), Some(yd)) => Some(xd.join(yd,
          Seq("_dv_path", "_dv_row"), "left_anti"))
      }
    val (dvDeleted, dvResurrected) =
      if (a.dvs == b.dvs || carried.isEmpty) (None, None)
      else (posDiff(dvDf(b), dvDf(a)).map(carriedAt),
        posDiff(dvDf(a), dvDf(b)).map(carriedAt))
    val payload = schemaRef.columns.filterNot(_ == key).toIndexedSeq
    // presence markers (not payload-null sniffing) classify the join sides:
    // a legitimately-null payload column must not masquerade as absence
    val preSide = dvDeleted
      .foldLeft(side(removed, a.dvs))(_ unionByName _)
    val postSide = dvResurrected
      .foldLeft(side(added, b.dvs))(_ unionByName _)
    val preR = preSide.withColumn("_pre", lit(true))
      .select(col(key) +: col("_pre") +: payload.map(c =>
        col(c).as(s"_pre_$c")): _*)
    val postR = postSide.withColumn("_post", lit(true))
      .select(col(key) +: col("_post") +: payload.map(c =>
        col(c).as(s"_post_$c")): _*)
    val changed = payload.map(c =>
      !(col(s"_pre_$c") <=> col(s"_post_$c"))).reduce(_ || _)
    preR.join(postR, Seq(key), "full_outer")
      .withColumn("action",
        when(col("_pre").isNull, "insert")
          .when(col("_post").isNull, "delete")
          .when(changed, "update")
          .otherwise("unchanged"))
      .filter(col("action") =!= "unchanged")
      .select(col("action") +: col(key) +: payload.map(c =>
        coalesce(col(s"_post_$c"), col(s"_pre_$c")).as(c)): _*)
  }

  /** Delete data dirs referenced by NO manifest among the newest
    * `retainVersions`; older manifests are dropped too. Returns the number
    * of data files deleted. Live files are safe by construction — retention
    * is in snapshots, not mtimes.
    */
  /** The liveness scope a vacuum at `retainVersions` would operate
    * under: (manifest versions kept, live data-file rel paths, live
    * DV/bloom dirs). Shared by [[vacuum]] and [[vacuumPlan]] so the
    * dry run can never disagree with the deletion.
    */
  private def vacuumScope(root: String, retainVersions: Int)
      : (Seq[Int], Set[String], Set[String]) = {
    // TAGGED versions are pinned: their manifests and files survive any
    // retention window (drop the tag to release them) — without this a
    // vacuum would silently break every audit pinned to a tag
    val tagged = tags(root).map(_._2).toSet
    val keep0 =
      (versions(root).takeRight(retainVersions) ++ tagged).distinct.sorted
    // a retained filesRef manifest needs its (inline) referent to stay
    // loadable — keep the depth-1 ref closure alongside
    val keep = (keep0 ++ keep0.map(v => load(root, v).filesFrom)
      .filter(_ > 0)).distinct.sorted
    // files under OUR data dir that a live BRANCH still references are
    // live too: branches fork zero-copy, so their manifests point into
    // main's data dir until the shared files are rewritten branch-side
    val branchShared: Set[String] = branches(root).flatMap { name =>
      val b = branchRoot(root, name)
      val bAbs = Paths.get(b).toAbsolutePath.normalize
      val rootAbs = Paths.get(root).toAbsolutePath.normalize
      versions(b).flatMap(v => load(b, v).files).flatMap { f =>
        val abs = bAbs.resolve(f.path).normalize
        if (abs.startsWith(bAbs)) None
        else Some(rootAbs.relativize(abs).toString)
      }
    }.toSet
    val live: Set[String] =
      keep.flatMap(v => load(root, v).files.map(_.path)).toSet ++
        branchShared
    // deletion-vector and bloom-sidecar DIRS referenced by a retained
    // manifest are live as units (their parquet part files are
    // positions/index rows, not table rows)
    val liveDvDirs: Set[String] =
      keep.flatMap { v =>
        val sn = load(root, v); sn.dvs ++ sn.blooms
      }.toSet
    (keep, live, liveDvDirs)
  }

  /** Commit wall-clock of version `v`, by ts-only manifest PEEK (no
    * file-list parse, no filesRef resolution) — the time-based
    * retention scan reads O(versions) timestamps, not O(versions x
    * files) manifests.
    */
  private[sources] def tsOf(root: String, v: Int): Long = {
    val head = new String(Files.readAllBytes(manifestPath(root, v)),
      StandardCharsets.UTF_8)
    """"ts":(\d+)""".r.findFirstMatchIn(head) match {
      case Some(m) => m.group(1).toLong
      case None => Files.getLastModifiedTime(manifestPath(root, v))
        .toMillis
    }
  }

  /** DRY RUN: the data files a `vacuum(retainVersions)` would delete,
    * without deleting anything (manifests included in the count's
    * scope but only FILES are listed — the audit a human wants before
    * an irreversible reclaim).
    */
  def vacuumPlan(root: String, retainVersions: Int = 1): Seq[String] = {
    val (_, live, liveDvDirs) = vacuumScope(root, retainVersions)
    val dataRoot = Paths.get(root, "data")
    if (!Files.isDirectory(dataRoot)) return Seq.empty
    listDir(dataRoot).flatMap { commitDir =>
      val relDir = Paths.get(root).relativize(commitDir).toString
      if (liveDvDirs.contains(relDir)) Seq.empty
      else if (commitDir.getFileName.toString.startsWith("dv-") ||
          commitDir.getFileName.toString.startsWith("bx-"))
        listDir(commitDir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => Paths.get(root).relativize(f).toString)
      else
        listDir(commitDir)
          .filter(f => f.getFileName.toString.endsWith(".parquet") &&
            !live.contains(Paths.get(root).relativize(f).toString))
          .map(f => Paths.get(root).relativize(f).toString)
    }.sorted
  }

  def vacuum(root: String, retainVersions: Int = 1): Int = {
    val (keep, live, liveDvDirs) = vacuumScope(root, retainVersions)
    versions(root).filterNot(keep.contains).foreach(v =>
      Files.delete(manifestPath(root, v)))
    val dataRoot = Paths.get(root, "data")
    var removed = 0
    if (Files.isDirectory(dataRoot)) {
      listDir(dataRoot).foreach { commitDir =>
        val relDir = Paths.get(root).relativize(commitDir).toString
        if (liveDvDirs.contains(relDir)) ()
        else if (commitDir.getFileName.toString.startsWith("dv-") ||
            commitDir.getFileName.toString.startsWith("bx-")) {
          // an unreferenced deletion vector or bloom sidecar (compacted
          // away or vacuumed past): reclaim it whole
          val n = listDir(commitDir)
            .count(_.getFileName.toString.endsWith(".parquet"))
          deleteRecursively(commitDir)
          removed += n
        } else {
          val files = listDir(commitDir)
            .filter(_.getFileName.toString.endsWith(".parquet"))
          val (dead, alive) = files.partition(f =>
            !live.contains(Paths.get(root).relativize(f).toString))
          dead.foreach { f => Files.delete(f); removed += 1 }
          if (alive.isEmpty) deleteRecursively(commitDir)
        }
      }
    }
    removed
  }

  def versions(root: String): Seq[Int] =
    listDir(Paths.get(root, "_log"))
      .map(_.getFileName.toString)
      .collect { case ManifestName(v) => v.toInt }
      .sorted

  def latestVersion(root: String): Int = versions(root).max

  /** `TIMESTAMP AS OF` resolution: the NEWEST version committed at or
    * before `tsMillis` — the same contract as Delta/Iceberg timestamp
    * time travel. Slot order stays authoritative when racing commits
    * share a millisecond (the scan is over manifests: driver metadata).
    */
  def versionAsOf(root: String, tsMillis: Long): Int = {
    val vs = versions(root)
    val hit = vs.filter(v => load(root, v).ts <= tsMillis)
    require(hit.nonEmpty,
      s"no snapshot at or before ts=$tsMillis — the table's first " +
        s"commit is ts=${load(root, vs.min).ts}")
    hit.max
  }

  // ---------------------------------------------------------------- internals

  private val ManifestName = """v(\d{8})\.json""".r

  /** Range-cluster a write by the snapshot's partition spec so each file
    * covers a narrow slice of the spec columns — tight manifest [min,max]
    * on them is what turns the generic file skipping into partition
    * pruning. No-op for unpartitioned tables. The partition count is
    * pinned to spark.sql.shuffle.partitions EXPLICITLY: an implicit
    * range shuffle gets AQE-coalesced to one partition on a small
    * commit, which would collapse the whole commit into a single file
    * with full-range stats — unprunable. (A production writer sizes
    * this by target file bytes instead.)
    */
  private[sources] def clusterBySpec(df: DataFrame,
      spec: Seq[String]): DataFrame =
    if (spec.isEmpty) df
    else {
      val n = df.sparkSession.sessionState.conf.numShufflePartitions
      df.repartitionByRange(n, spec.map(col): _*)
        .sortWithinPartitions(spec.map(col): _*)
    }

  /** The declared CLUSTER BY columns (the liquid-clustering idea):
    * layout metadata in the `snap.clusterBy` table property — writes
    * cluster incoming batches on them, OPTIMIZE re-clusters the whole
    * table on them, and per-file [min,max] stats then prune on each.
    */
  private[sources] def clusterProp(snap: Snapshot): Seq[String] =
    snap.props.get("snap.clusterBy").toSeq
      .flatMap(_.split(",").toSeq).filter(_.nonEmpty)

  /** Write-side clustering: an explicit partition spec wins; else the
    * declared CLUSTER BY columns — one column range-clusters like a
    * spec, several interleave a per-batch Morton code so every
    * dimension's stats stay tight in every file. Cost is the sort the
    * write already pays for any clustered layout; the Morton ranges
    * come from ONE aggregate over the incoming batch (not the table).
    */
  private[sources] def clusterFor(df: DataFrame,
      snap: Snapshot): DataFrame =
    if (snap.spec.nonEmpty) clusterBySpec(df, snap.spec)
    else clusterProp(snap) match {
      case Seq() => df
      case Seq(c) => clusterBySpec(df, Seq(c))
      case cols =>
        val n = df.sparkSession.sessionState.conf.numShufflePartitions
        df.withColumn("_gf_z", mortonOf(df, cols))
          .repartitionByRange(n, col("_gf_z"))
          .sortWithinPartitions("_gf_z")
          .drop("_gf_z")
    }

  /** Balanced 8-bit-per-dimension Morton interleave of `cols` (LONG
    * columns) over `df`'s actual value ranges — no dimension dominates
    * the file splits. One agg job over `df` to find the ranges.
    */
  private[sources] def mortonOf(df: DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val range = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      if (range.isNullAt(2 * i)) lit(0L) // empty/all-null batch
      else {
        val lo = range.getLong(2 * i)
        val hi = range.getLong(2 * i + 1)
        val w = math.max(1L, (hi - lo + 255) / 256)
        least(expr(s"(`$c` - $lo) div $w"), lit(255L))
      }
    }
    def bit(c: org.apache.spark.sql.Column, i: Int) =
      shiftrightunsigned(c, i).bitwiseAND(lit(1L))
    (0 until 8).flatMap(i => buckets.zipWithIndex.map { case (b, j) =>
      shiftleft(bit(b, i), i * cols.length + j)
    }).reduce(_ + _)
  }

  /** Declared CLUSTER BY columns of the head snapshot. */
  def clusterColumns(root: String): Seq[String] =
    clusterProp(load(root, latestVersion(root)))

  /** `ALTER TABLE … CLUSTER BY (cols…) | NONE` — re-point the declared
    * clustering in one metadata commit. Future writes adopt it
    * immediately; OPTIMIZE materializes it table-wide. Exclusive with
    * a partition spec or bucket layout (one physical order per table).
    */
  def setClusterBy(root: String, cols: Seq[String]): Int = {
    val parent = load(root, latestVersion(root))
    require(parent.spec.isEmpty && parent.bucket.isEmpty,
      "CLUSTER BY is exclusive with a partition spec or bucket layout")
    val schema = schemaOf(parent.schemaJson)
    cols.foreach(c => require(schema.fields.exists(f => f.name == c &&
      f.dataType == org.apache.spark.sql.types.LongType),
      s"cluster column '$c' must be an existing BIGINT column " +
        "(the Morton interleave and manifest range stats are INT64)"))
    commitExclusive(root, parent, parent.files, "set-cluster",
      parent.schemaJson,
      props =
        if (cols.isEmpty) parent.props - "snap.clusterBy"
        else parent.props + ("snap.clusterBy" -> cols.mkString(",")))
  }

  /** Map `_metadata.file_path` URIs back to their manifest entries by
    * NORMALIZED absolute path — a bare endsWith on the relative entry
    * breaks for shallow-clone entries ("../src/data/..." is never a
    * suffix of an absolute URI), which would carry a touched shared file
    * forward AND rewrite its survivors (row duplication).
    */
  private def matchEntries(root: String, files: Seq[FileEntry],
      touchedUris: Set[String]): Seq[FileEntry] = {
    val byAbs = files.map(f =>
      Paths.get(root).resolve(f.path).normalize().toAbsolutePath
        .toString -> f)
    byAbs.filter { case (abs, _) =>
      touchedUris.exists(_.endsWith(abs)) }.map(_._2)
  }

  /** Re-layout pass for SQL row-level rewrites (MERGE/UPDATE/DELETE via
    * DSv2): the replace write lands raw task files, but two table
    * contracts are per-FILE properties the raw layout can't satisfy —
    *
    *  1. BUCKETED tables claim one bucket id per file (`_gfb` stats);
    *     raw rewrite files carry no such stats, so the next native read
    *     would fail its bucket-grouping invariant. The rewrite rows are
    *     re-laid-out through the same bucketed [[writeData]] path every
    *     API write uses (and re-clustered per the table's CLUSTER BY).
    *  2. GENERATED ALWAYS identity columns: a MERGE insert action
    *     cannot express column absence — inserted rows arrive with the
    *     column NULL. NULL means ASSIGN (the same contract as short SQL
    *     INSERTs): fresh values land above the table's high-water mark,
    *     while matched/copied rows keep their existing ids. (An UPDATE
    *     that explicitly SETs an ALWAYS column to a non-null value is
    *     indistinguishable from a carried value at this layer and is
    *     not refused — the analysis-time guard is Spark's to add.)
    *
    * Cost: one bounded read+write over just the REWRITTEN files (never
    * the table), only when the table is bucketed or an ALWAYS identity
    * file actually contains NULLs (detected from footer null counts —
    * no scan). The raw task files are deleted; they were never linked
    * into any manifest.
    */
  private[sources] def relayoutRowLevel(s: SparkSession, root: String,
      parent: Snapshot, fresh: Seq[FileEntry]): Seq[FileEntry] = {
    if (fresh.isEmpty) return fresh
    val always = parent.idents.toSeq.sortBy(_._1)
      .filter { case (_, (_, _, allow)) => !allow }
    val needIdent = always.exists { case (c, _) =>
      val pc = physName(parent.colmap, c)
      fresh.exists(e => e.nulls.getOrElse(pc,
        if (e.stats.contains(pc)) 0L else e.rows) > 0)
    }
    if (parent.bucket.isEmpty && !needIdent) return fresh
    val absPaths = fresh.map(e =>
      Paths.get(root).toAbsolutePath.resolve(e.path).normalize())
    // files are written at PHYSICAL names; rename back to logical so the
    // identity fill, CLUSTER BY and bucketed writeData all see the
    // names they were declared with
    var df = s.read.parquet(absPaths.map(_.toString): _*)
    parent.colmap.foreach { case (l, p) =>
      if (df.columns.contains(p)) df = df.withColumnRenamed(p, l)
    }
    if (needIdent) always.foreach { case (c, (start, step, _)) =>
      if (df.columns.contains(c)) {
        val nullPart = df.filter(col(c).isNull).drop(c)
        if (!nullPart.isEmpty) {
          val pc = physName(parent.colmap, c)
          // high-water over the PRE-op table (rewritten-away files'
          // ids existed; never reissue them) plus the non-null ids the
          // rewrite itself carries (parquet min/max ignore nulls)
          val marks = (parent.files ++ fresh).flatMap(_.stats.get(pc))
            .map { case (mn, mx) => if (step > 0) mx else mn }
          val base =
            if (marks.isEmpty) start - step
            else if (step > 0) math.max(marks.max, start - step)
            else math.min(marks.min, start - step)
          val order = df.columns.toIndexedSeq
          val schema2 = org.apache.spark.sql.types.StructType(
            nullPart.schema.fields :+ org.apache.spark.sql.types
              .StructField(c, org.apache.spark.sql.types.LongType,
                nullable = true))
          val filled = s.createDataFrame(
            nullPart.rdd.zipWithIndex().map { case (r, i) =>
              org.apache.spark.sql.Row.fromSeq(
                r.toSeq :+ (base + step * (i + 1)))
            }, schema2)
          df = df.filter(col(c).isNotNull)
            .select(order.map(col): _*)
            .unionByName(filled.select(order.map(col): _*))
        }
      }
    }
    val out = writeData(s, root, clusterFor(df, parent), parent.statsCol,
      parent.bucket, parent.colmap, eraHiOf(parent) + 1)
    absPaths.foreach(p => Files.deleteIfExists(p))
    out
  }

  // Files.list holds a directory fd until the stream is CLOSED — an
  // unclosed stream per commit is an fd leak that kills a long-running
  // writer process
  private def listDir(p: Path): Seq[Path] = {
    val st = Files.list(p)
    try st.iterator().asScala.toSeq finally st.close()
  }

  private def manifestPath(root: String, v: Int): Path =
    Paths.get(root, "_log", f"v$v%08d.json")

  /** Write `df` into a fresh immutable commit dir and return its manifest
    * entries. Stats come from the parquet FOOTERS the write already
    * produced (row counts + column-chunk min/max), not from re-scanning
    * the data — commit cost is metadata-sized. Footers are read on the
    * driver here, one [[ParquetMeta.open]] per written file under the
    * session's Hadoop conf (so no per-file reload of Hadoop's default
    * resources); on a real cluster this loop is a `spark.parallelize`
    * over file names (footer reads are independent), same as Iceberg's
    * manifest workers.
    */
  private[graft] def writeData(s: SparkSession, root: String, df0: DataFrame,
      statsCol: String, bucket: Option[(String, Int)] = None,
      colmap: Map[String, String] = Map.empty, era: Int = 0)
      : Seq[FileEntry] = {
    // writes land at PHYSICAL column names — the one invariant that
    // makes renames metadata-only (files before and after a rename
    // agree on what's on disk)
    val df = colmap.foldLeft(df0) { case (d, (l, p)) =>
      if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d
    }
    // the dir name carries the WRITE ERA (the parent era watermark + 1):
    // path property every reader can test without metadata lookups —
    // what decides whether an initial column default applies to a file.
    // era 0 ("c-") marks pre-era dirs and is older than any version.
    val dirName = (if (era > 0) s"c$era-" else "c-") +
      java.util.UUID.randomUUID().toString.take(8)
    val dir = Paths.get(root, "data", dirName)
    bucket match {
      case None =>
        df.write.parquet(dir.toString)
        listDir(dir)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .flatMap(p => footerEntry(s, root, p)).sortBy(_.path)
      case Some((bc0, n)) =>
        // one bucket id per FILE, guaranteed by partitionBy: a task
        // holding several bucket ids writes one file per id under its
        // `_gfb=<id>` dir. The explicit repartition bounds the task
        // count (≈1 file per bucket), and the id re-enters the manifest
        // as [id,id] stats — bucket pruning IS file skipping.
        val bc = physName(colmap, bc0) // the frame is physical by now
        val withB = df.withColumn(BucketStatsCol,
          pmod(hash(col(bc)), lit(n)))
        // sort by (bucket id, bucket col): the partitioned writer
        // requires task rows ordered by its partition columns and
        // inserts its OWN (unstable, id-only) sort when they are not —
        // leading with the id makes that required ordering already
        // satisfied, so the writer keeps the bc order and every data
        // file lands internally sorted by the bucket column (the
        // invariant SnapBatchScan.outputOrdering reports)
        withB.repartition(n, col(BucketStatsCol))
          .sortWithinPartitions(col(BucketStatsCol), col(bc))
          .write.partitionBy(BucketStatsCol).parquet(dir.toString)
        listDir(dir)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith(s"$BucketStatsCol="))
          .flatMap { sub =>
            val id = sub.getFileName.toString
              .stripPrefix(s"$BucketStatsCol=").toLong
            listDir(sub)
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .flatMap(p => footerEntry(s, root, p))
              .map(e => e.copy(stats = e.stats + (BucketStatsCol -> (id, id))))
          }.sortBy(_.path)
    }
  }

  /** Manifest entry for one just-written parquet file, from its FOOTER
    * (row count + every INT64 column's min/max merged across row groups)
    * — no data re-scan; `None` for an empty part file. The footer is
    * opened through [[ParquetMeta.open]] with the SparkContext's Hadoop
    * conf.
    */
  private[sources] def footerEntry(s: SparkSession, root: String,
      p: Path): Option[FileEntry] =
    footerEntryConf(s.sparkContext.hadoopConfiguration, root, p)

  /** The session-free core of [[footerEntry]] — runs on executors too
    * (convertInPlace fans the footer sweep out over the cluster).
    */
  private[sources] def footerEntryConf(
      conf: org.apache.hadoop.conf.Configuration, root: String,
      p: Path): Option[FileEntry] = {
    val reader = ParquetMeta.open(conf, new org.apache.hadoop.fs.Path(p.toUri))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      if (blocks.isEmpty) None // empty part file: no entry, no stats
      else {
        val rows = blocks.map(_.getRowCount).sum
        val perCol = blocks.flatMap(_.getColumns.asScala)
          .filter(c => c.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT64 &&
            c.getStatistics != null &&
            c.getStatistics.hasNonNullValue)
          .groupBy(_.getPath.toDotString)
          .map { case (name, cs) =>
            name -> (
              cs.map(_.getStatistics.genericGetMin
                .asInstanceOf[java.lang.Long].longValue()).min,
              cs.map(_.getStatistics.genericGetMax
                .asInstanceOf[java.lang.Long].longValue()).max)
          }
        // STRING bounds: short-ASCII-only (see FileEntry scaladoc); a
        // column whose bounds fail the guard is simply not recorded
        def ok(v: String) = v.length <= 64 && v.forall(_ < 128)
        val perStr = blocks.flatMap(_.getColumns.asScala)
          .filter { c =>
            c.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType
                .PrimitiveTypeName.BINARY &&
            c.getPrimitiveType.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation
                .stringType() &&
            c.getStatistics != null && c.getStatistics.hasNonNullValue
          }
          .groupBy(_.getPath.toDotString)
          .flatMap { case (name, cs) =>
            val mn = cs.map(_.getStatistics.minAsString).min
            val mx = cs.map(_.getStatistics.maxAsString).max
            if (ok(mn) && ok(mx)) Some(name -> (mn, mx)) else None
          }
        // DOUBLE bounds: parquet writers omit min/max when NaN is
        // present, but be defensive — a NaN bound orders arbitrarily
        // and could mis-prune, so reject it outright
        val perDbl = blocks.flatMap(_.getColumns.asScala)
          .filter(c => c.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.DOUBLE &&
            c.getStatistics != null &&
            c.getStatistics.hasNonNullValue)
          .groupBy(_.getPath.toDotString)
          .flatMap { case (name, cs) =>
            val mn = cs.map(_.getStatistics.genericGetMin
              .asInstanceOf[java.lang.Double].doubleValue()).min
            val mx = cs.map(_.getStatistics.genericGetMax
              .asInstanceOf[java.lang.Double].doubleValue()).max
            // non-finite bounds are rejected: NaN orders arbitrarily,
            // and a bare Infinity token would be unreadable to the
            // manifest parser — one such value must not brick the table
            if (mn.isNaN || mx.isNaN || mn.isInfinite || mx.isInfinite)
              None
            else Some(name -> (mn, mx))
          }
        val perNull = blocks.flatMap(_.getColumns.asScala)
          .filter(c => c.getPrimitiveType.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType
              .PrimitiveTypeName.INT64 && c.getStatistics != null)
          .groupBy(_.getPath.toDotString)
          .flatMap { case (name, cs) =>
            if (cs.forall(_.getStatistics.isNumNullsSet))
              Some(name -> cs.map(_.getStatistics.getNumNulls).sum)
            else None
          }
        Some(FileEntry(
          Paths.get(root).toAbsolutePath.relativize(p).toString,
          rows, perCol, perStr, perNull, perDbl))
      }
    } finally reader.close()
  }

  /** One atomic manifest-promotion attempt: serialize to a tmp file, then
    * claim `snap.version`'s slot with a create-exclusive link. Returns
    * whether THIS writer won the slot.
    *
    * link(2) is the POSIX create-exclusive primitive: unlike rename(2)
    * (which silently replaces an existing target) it fails with EEXIST
    * when the version slot is already taken — the whole optimistic-
    * concurrency guarantee hangs on this one syscall choice.
    */
  private def tryLink(root: String, snap: Snapshot): Boolean =
    linkExclusive(Paths.get(root, "_log"),
      manifestPath(root, snap.version), render(snap))

  /** The shared create-exclusive slot-claim primitive (manifests AND
    * SnapTxn records): serialize to a tmp file in `dir`, then link(2) it
    * to `target` — EEXIST means the slot was lost.
    */
  private[sources] def linkExclusive(dir: Path, target: Path,
      content: String): Boolean = {
    val tmp = Files.createTempFile(dir, "tmp", ".json")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      Files.delete(tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp)
        false
    }
  }

  /** Optimistic commit for APPEND-shaped ops — the fresh files are valid
    * against ANY head, so losing a race is recoverable: reconcile against
    * the new head and retry, never re-linking the stale parent's file list
    * (which would drop the winner's files — a lost update). Reconciling
    * means: (a) for idempotent appends, re-check whether the new head
    * already carries our `txn` (the winner may have been a concurrent
    * redelivery of the SAME txn — then we are the duplicate and resolve to
    * its version); (b) re-validate schema evolution against the head the
    * commit will actually land on; (c) rebuild the file list as
    * head.files ++ fresh. Package-private so the race is unit-testable.
    */
  /** The schema an append ADOPTS must not narrow nullability: a column
    * nullable in the parent may hold NULLs in existing files, and a
    * column the append INTRODUCES null-fills for every pre-existing
    * file — an incoming non-null field (e.g. INSERT of a literal)
    * widens to nullable, like Delta's schema merge.
    */
  private def widenNullability(parent: Snapshot,
      incoming: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val pf = schemaOf(parent.schemaJson).fields.map(f => f.name -> f).toMap
    org.apache.spark.sql.types.StructType(incoming.fields.map { f =>
      pf.get(f.name) match {
        case Some(p) => f.copy(nullable = f.nullable || p.nullable)
        case None =>
          if (parent.files.nonEmpty) f.copy(nullable = true) else f
      }
    })
  }

  private[graft] def commitAppend(root: String, parent: Snapshot,
      fresh: Seq[FileEntry],
      schema0: org.apache.spark.sql.types.StructType,
      txn: Option[String],
      freshBlooms: Seq[String] = Seq.empty,
      colmap: Map[String, String] = null,
      eraFloor: Int = 0,
      identAssigned: Seq[String] = Seq.empty): Int = {
    var schema = widenNullability(parent, schema0)
    // mapping entries OUR append minted (fresh columns); merged onto
    // whichever head's map the commit finally lands on
    val minted = Option(colmap).getOrElse(parent.colmap)
      .filterNot { case (k, v) => parent.colmap.get(k).contains(v) }
    var head = parent
    while (true) {
      // the txn check runs BEFORE every attempt, not only after a lost
      // slot: a duplicate that landed before this scan is seen here, and
      // one that lands after it necessarily occupies head+1, so our link
      // fails and the loop re-scans — no window remains in which a
      // duplicate can land unseen while our link still succeeds
      txn.flatMap(findTxn(root, _)) match {
        case Some(dup) => return dup // our txn already landed
        case None => ()
      }
      val won = tryLink(root, Snapshot(head.version + 1, "append",
        head.statsCol, schema.json, head.files ++ fresh, txn, head.spec,
        head.dvs, head.checks, bucket = head.bucket, gen = head.gen,
        // fresh sidecars cover only OUR fresh files, so they stack onto
        // whatever bloom list the head we finally land on carries
        blooms = head.blooms ++ freshBlooms,
        colmap = head.colmap ++ minted, dead = head.dead,
        defaults = head.defaults, props = head.props,
        idents = head.idents,
        // ≥ the era our files were stamped with (stamp = eraHiOf(parent)
        // + 1 ≤ eraHiOf(head) + 1) — the counter never regresses.
        // `eraFloor` covers ADOPTED files stamped in a foreign era
        // space (rebase publish of a branch whose watermark ran ahead)
        eraHi = math.max(eraHiOf(head) + 1, eraFloor)))
      if (won) return head.version + 1
      head = load(root, latestVersion(root))
      schema = widenNullability(head, schema0)
      validateEvolution(head.schemaJson, schema)
      // an ADD COLUMN DEFAULT that landed mid-retry invalidates OUR
      // already-written files' era stamps for the defaulted column —
      // re-linking them could mis-fill their explicit NULLs. Abort so
      // the caller re-runs the write under the new head.
      if (head.defaults != parent.defaults)
        throw new ConcurrentCommitException(
          "column defaults changed while this append retried — its " +
            "files carry a pre-change era stamp; re-run the append")
      // identity values were assigned against the STALE parent's
      // high-water mark: a concurrent commit that stamped values for
      // the same column may have claimed the same range — relinking
      // would duplicate ids. Abort; the append wrapper re-assigns
      // against the new head and rewrites.
      if (identAssigned.nonEmpty && {
            val known = parent.files.map(_.path).toSet
            head.files.exists(f => !known.contains(f.path) &&
              identAssigned.exists(f.stats.contains))
          })
        throw new IdentityRaceException(
          "a concurrent commit advanced the identity high-water mark " +
            "while this append retried — re-assign against the new head")
    }
    -1 // unreachable
  }

  /** EXACTLY-ONCE epoch commit for the native streaming sink
    * ([[SnapStreamingWrite]]): an append of already-written files under
    * an idempotency txn. A replayed epoch (restart re-ran a committed
    * batch) resolves to the recorded version and links nothing — its
    * re-written files orphan and vacuum reclaims them. Validation
    * matches the DataFrame append path, bounded by the epoch's files.
    */
  private[graft] def streamingEpochCommit(s: SparkSession, root: String,
      fresh: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType, txn: String,
      usedColmap: Map[String, String],
      usedBucket: Option[(String, Int)] = None,
      usedDefaults: Map[String, (String, Int)] = null): Int = {
    val parent = load(root, latestVersion(root))
    findTxn(root, txn) match {
      case Some(dup) => return dup // epoch already committed
      case None => ()
    }
    // epoch files carry the QUERY-START era stamp; a default added
    // mid-stream has a threshold above it and would mis-fill their
    // explicit NULLs — the same restart contract as a mapping change
    if (usedDefaults != null)
      require(parent.defaults == usedDefaults,
        "the table's initial column defaults changed while the stream " +
          "ran (ADD COLUMN ... DEFAULT) — restart from a fresh " +
          "checkpoint")
    // the files were written at the START mapping's physical names;
    // a commit under a head whose mapping disagrees would mis-file them
    schema.fieldNames.foreach { n =>
      require(physName(parent.colmap, n) == physName(usedColmap, n),
        s"column mapping for '$n' changed while the stream ran " +
          "(RENAME/DROP/re-ADD COLUMN) — restart from a fresh checkpoint")
    }
    require(parent.bucket == usedBucket,
      "the table's bucket layout changed while the stream ran — the " +
        "epoch's files were routed under the old layout; restart from " +
        "a fresh checkpoint")
    validateEvolution(parent.schemaJson, schema)
    if (parent.checks.nonEmpty || parent.gen.nonEmpty) {
      parent.gen.keys.foreach(c => require(schema.fieldNames.contains(c),
        s"generated column '$c' must be included in the streamed frame"))
      val df = readFiles(s, root, fresh, schema.json, parent.colmap)
      validateChecks(df, parent.checks, "incoming stream epoch")
      validateGenerated(df, parent.gen, "incoming stream epoch")
    }
    commitAppend(root, parent, fresh, schema, Some(txn),
      freshBlooms = appendBlooms(s, root, parent, fresh, schema.json))
  }

  /** COMPLETE-mode epoch commit for the native streaming sink: each
    * epoch REPLACES the table's contents with the full streamed result
    * (a transactional TRUNCATE + append in one commit — the streaming
    * form of INSERT OVERWRITE). Exactly-once falls out the same way as
    * the append epochs: a replayed epoch resolves to its recorded txn
    * version and links nothing. Unlike append epochs, an EMPTY epoch
    * still commits — in Complete mode the epoch's output IS the whole
    * result, and an empty result means an empty table.
    *
    * The replacement list is independent of the parent's files, so a
    * lost commit race retries against the new head (re-validating the
    * mapping/bucket/evolution guards) instead of aborting. Outstanding
    * DVs die with the files they annotate; bloom sidecars are rebuilt
    * over just the epoch's files (the old sidecars cover dropped files
    * — carrying them would be dead weight on every probe).
    */
  private[graft] def streamingEpochReplace(s: SparkSession, root: String,
      fresh: Seq[FileEntry],
      schema: org.apache.spark.sql.types.StructType, txn: String,
      usedColmap: Map[String, String],
      usedBucket: Option[(String, Int)] = None,
      usedDefaults: Map[String, (String, Int)] = null): Int = {
    while (true) {
      findTxn(root, txn) match {
        case Some(dup) => return dup // epoch already committed
        case None => ()
      }
      val parent = load(root, latestVersion(root))
      if (usedDefaults != null)
        require(parent.defaults == usedDefaults,
          "the table's initial column defaults changed while the " +
            "stream ran (ADD COLUMN ... DEFAULT) — restart from a " +
            "fresh checkpoint")
      schema.fieldNames.foreach { n =>
        require(physName(parent.colmap, n) == physName(usedColmap, n),
          s"column mapping for '$n' changed while the stream ran " +
            "(RENAME/DROP/re-ADD COLUMN) — restart from a fresh checkpoint")
      }
      require(parent.bucket == usedBucket,
        "the table's bucket layout changed while the stream ran — the " +
          "epoch's files were routed under the old layout; restart from " +
          "a fresh checkpoint")
      validateEvolution(parent.schemaJson, schema)
      if (fresh.nonEmpty && (parent.checks.nonEmpty || parent.gen.nonEmpty)) {
        parent.gen.keys.foreach(c => require(schema.fieldNames.contains(c),
          s"generated column '$c' must be included in the streamed frame"))
        val df = readFiles(s, root, fresh, schema.json, parent.colmap)
        validateChecks(df, parent.checks, "incoming stream epoch")
        validateGenerated(df, parent.gen, "incoming stream epoch")
      }
      try {
        return commitExclusive(root, parent, fresh, "stream-overwrite",
          widenNullability(parent, schema).json, dvs = Seq.empty,
          txn = Some(txn),
          blooms = appendBlooms(s, root, parent, fresh, schema.json))
      } catch {
        case _: ConcurrentCommitException => () // head moved; re-validate
      }
    }
    -1 // unreachable
  }

  /** Commit for snapshot-TRANSFORMING ops (merge / delete / compact /
    * restore): the file list is a function of `parent` specifically, so a
    * head that moved invalidates it — blind retry would drop the
    * concurrent commit's changes. Losing the race aborts; the caller
    * re-reads and re-runs, as in Delta's conflict resolution.
    */
  private[graft] def commitExclusive(root: String, parent: Snapshot,
      files: Seq[FileEntry], op: String, schemaJson: String,
      statsCol: String = null, spec: Seq[String] = null,
      dvs: Seq[String] = null,
      checks: Map[String, String] = null,
      gen: Map[String, String] = null,
      txn: Option[String] = None,
      blooms: Seq[String] = null,
      colmap: Map[String, String] = null,
      dead: Seq[String] = null,
      filesFromHint: Int = 0,
      // None would be ambiguous with "drop the layout": null = inherit,
      // Some(b) = adopt layout b, Some-empty via dropBucket sentinel
      bucket: Option[(String, Int)] = null,
      dropBucket: Boolean = false,
      defaults: Map[String, (String, Int)] = null,
      eraHi: Int = 0,
      props: Map[String, String] = null,
      idents: Map[String, (Long, Long, Boolean)] = null): Int = {
    val sc = Option(statsCol).getOrElse(parent.statsCol)
    val sp = Option(spec).getOrElse(parent.spec)
    val dv = Option(dvs).getOrElse(parent.dvs)
    val ck = Option(checks).getOrElse(parent.checks)
    val gn = Option(gen).getOrElse(parent.gen)
    val bl = Option(blooms).getOrElse(parent.blooms)
    val cm = Option(colmap).getOrElse(parent.colmap)
    val dd = Option(dead).getOrElse(parent.dead)
    val v = parent.version + 1
    // metadata-only commit (file list identical to the parent's, and the
    // parent's list is known-inlined at some version): serialize a
    // filesRef instead of re-listing O(table) entries — `eq` catches the
    // common parent.files pass-through before paying the deep compare
    val ref =
      if (parent.filesFrom > 0 &&
          ((files eq parent.files) || files == parent.files))
        parent.filesFrom
      else filesFromHint // caller-attested (RESTORE: an old version's
                         // unmodified list re-committed wholesale)
    val bk =
      if (dropBucket) None
      else Option(bucket).getOrElse(parent.bucket)
    val dfl = Option(defaults).getOrElse(parent.defaults)
    // monotone era counter: default = one above the parent's watermark
    // (covers any era this commit's writeData stamped); callers merging
    // a FOREIGN era space (branch publish) pass the joint maximum
    val eh = if (eraHi > 0) eraHi else eraHiOf(parent) + 1
    val pr = Option(props).getOrElse(parent.props)
    val ids = Option(idents).getOrElse(parent.idents)
    if (tryLink(root, Snapshot(v, op, sc, schemaJson, files, txn, sp, dv,
        ck, bucket = bk, gen = gn, blooms = bl, colmap = cm,
        dead = dd, filesFrom = ref, defaults = dfl, eraHi = eh,
        props = pr, idents = ids)))
      v
    else throw new ConcurrentCommitException(
      s"$op computed against v${parent.version} lost the race for v$v — " +
        "its file rewrite is stale; re-read the head and re-run")
  }

  /** Additive-only schema evolution: every column of the current snapshot
    * must remain, with an identical type. New trailing columns are the
    * supported evolution (old files null-fill them on read).
    */
  private def validateEvolution(parentSchemaJson: String,
      incoming: org.apache.spark.sql.types.StructType): Unit = {
    val parent = org.apache.spark.sql.types.DataType
      .fromJson(parentSchemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    parent.fields.foreach { pf =>
      incoming.fields.find(_.name == pf.name) match {
        case Some(f) if f.dataType == pf.dataType => ()
        case Some(f) => throw new SchemaEvolutionException(
          s"append retypes column '${pf.name}' from ${pf.dataType.sql} " +
            s"to ${f.dataType.sql}; only additive evolution is supported")
        case None => throw new SchemaEvolutionException(
          s"append drops column '${pf.name}'; adopting that schema would " +
            "null it for every existing file — only additive evolution " +
            "is supported")
      }
    }
  }

  /** CHECK-constraint validation over just-written replacement files —
    * the row-level-operation commit's pre-link gate, bounded by the
    * rewrite size exactly like the API merge's incoming validation.
    */
  private[sources] def validateWrittenChecks(s: SparkSession, root: String,
      files: Seq[FileEntry], schemaJson: String,
      checks: Map[String, String], what: String,
      colmap: Map[String, String] = Map.empty): Unit =
    validateChecks(readFiles(s, root, files, schemaJson, colmap), checks,
      what)

  private[sources] def readFiles(s: SparkSession, root: String,
      files: Seq[FileEntry], schemaJson: String,
      colmap: Map[String, String] = Map.empty,
      defaults: Map[String, (String, Int)] = Map.empty): DataFrame =
    toLogical(
      readFilesPhysical(s, root, files, schemaJson, colmap, defaults),
      schemaJson, colmap)

  /** The raw scan at PHYSICAL column names. Callers that need metadata
    * columns (`_metadata.file_path` / `row_index`) must capture them on
    * THIS frame, before [[toLogical]]'s projection strips them.
    */
  private[sources] def readFilesPhysical(s: SparkSession, root: String,
      files: Seq[FileEntry], schemaJson: String,
      colmap: Map[String, String],
      defaults: Map[String, (String, Int)] = Map.empty): DataFrame = {
    val schema = physSchemaOf(schemaJson, colmap)
    // a snapshot may legally be empty (deleteWhere/merge removed every
    // row); it reads as an empty frame under the snapshot schema
    if (files.isEmpty)
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      applyDefaults(
        s.read.schema(schema)
          .parquet(files.map(f => s"$root/${f.path}"): _*),
        colmap, defaults)
  }

  /** The write ERA of the file a row came from, as a codegen'd
    * expression over `_metadata.file_path` (data dirs are named
    * `c<era>-…` / `s<era>-…`); pre-era dirs ("c-") and converted-in
    * files (outside data/) read as 0 — older than any version.
    */
  private[sources] def eraExpr: org.apache.spark.sql.Column =
    coalesce(regexp_extract(col("_metadata.file_path"),
      "/data/[cs](\\d+)-", 1).cast("int"), lit(0))

  /** Initial-default fill over a PHYSICAL scan frame: rows from files
    * whose era predates a column's add read the declared literal
    * instead of null. A projection on the scan — `_metadata` stays
    * resolvable (pinned in MetaProbeSpec), codegen applies, no
    * membership sets at any file count.
    */
  private[sources] def applyDefaults(df: DataFrame,
      colmap: Map[String, String],
      defaults: Map[String, (String, Int)]): DataFrame =
    if (defaults.isEmpty) df
    else defaults.toSeq.sortBy(_._1).foldLeft(df) {
      case (d, (c, (litSql, at))) =>
        val pc = physName(colmap, c)
        if (!d.columns.contains(pc)) d
        else d.withColumn(pc,
          when(eraExpr < at, expr(litSql).cast(d.schema(pc).dataType))
            .otherwise(col(pc)))
    }

  private[graft] def load(root: String, v: Int): Snapshot = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(manifestPath(root, v)))
    // a filesRef manifest shares the referenced (inline) manifest's
    // file list — resolve the single indirection (depth 1 by
    // construction: commits always ref the inlining version)
    val (files: Seq[FileEntry], filesFrom: Int) =
      Option(node.get("filesRef")) match {
        case Some(r) =>
          val ref = r.asInt()
          (load(root, ref).files, ref)
        case None => (parseFiles(node), v)
      }
    Snapshot(
      // the SLOT (filename) is the version, authoritatively: the log is
      // ordered by slot, and commit progress (head.version + 1) must key
      // off it — a manifest whose body claims another version must not be
      // able to wedge the retry loop
      v,
      node.get("op").asText(),
      node.get("statsCol").asText(),
      node.get("schema").toString,
      files,
      Option(node.get("txn")).map(_.asText()),
      // absent in pre-evolution manifests → unpartitioned
      Option(node.get("spec")).map(_.elements().asScala.map(_.asText())
        .toSeq).getOrElse(Seq.empty),
      Option(node.get("dvs")).map(_.elements().asScala.map(_.asText())
        .toSeq).getOrElse(Seq.empty),
      Option(node.get("checks")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      // pre-ts manifests fall back to the file's mtime — same clock, set
      // by the same link(2) that promoted the commit
      Option(node.get("ts")).map(_.asLong()).getOrElse(
        Files.getLastModifiedTime(manifestPath(root, v)).toMillis),
      Option(node.get("bucket")).map(b =>
        (b.get(0).asText(), b.get(1).asInt())),
      Option(node.get("generated")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(node.get("blooms")).map(_.elements().asScala.map(_.asText())
        .toSeq).getOrElse(Seq.empty),
      Option(node.get("colmap")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      Option(node.get("dead")).map(_.elements().asScala.map(_.asText())
        .toSeq).getOrElse(Seq.empty),
      filesFrom = filesFrom,
      defaults = Option(node.get("defaults")).map(_.properties().asScala
        .map(e => e.getKey ->
          (e.getValue.get(0).asText(), e.getValue.get(1).asInt()))
        .toMap).getOrElse(Map.empty),
      // absent in legacy manifests → eraHiOf falls back to the version
      eraHi = Option(node.get("eraHi")).map(_.asInt()).getOrElse(0),
      props = Option(node.get("props")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty),
      idents = Option(node.get("idents")).map(_.properties().asScala
        .map(e => e.getKey -> (e.getValue.get(0).asLong(),
          e.getValue.get(1).asLong(), e.getValue.get(2).asBoolean()))
        .toMap).getOrElse(Map.empty))
  }

  private def parseFiles(
      node: com.fasterxml.jackson.databind.JsonNode): Seq[FileEntry] =
    node.get("files").elements().asScala.map { f =>
      val st = f.get("stats")
      val stats = st.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong(), e.getValue.get(1).asLong())
      }.toMap
      val sstats = Option(f.get("sstats")).map(_.properties().asScala
        .map { e =>
          e.getKey -> (e.getValue.get(0).asText(),
            e.getValue.get(1).asText())
        }.toMap).getOrElse(Map.empty[String, (String, String)])
      val nulls = Option(f.get("nulls")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap)
        .getOrElse(Map.empty[String, Long])
      val dstats = Option(f.get("dstats")).map(_.properties().asScala
        .map { e =>
          e.getKey -> (e.getValue.get(0).asDouble(),
            e.getValue.get(1).asDouble())
        }.toMap).getOrElse(Map.empty[String, (Double, Double)])
      FileEntry(f.get("path").asText(), f.get("rows").asLong(), stats,
        sstats, nulls, dstats)
    }.toSeq

  // paths are uuid-based names we generate — no JSON-escaping needed
  // (string STATS values are data-derived and jackson-escaped)
  private def render(snap: Snapshot): String = {
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    // a filesRef manifest does not re-list the files: the list IS the
    // referenced (inline) manifest's, byte-for-byte — commitExclusive
    // only sets filesFrom after verifying list equality
    if (snap.filesFrom > 0 && snap.filesFrom != snap.version)
      return renderMeta(snap) +
        s""""filesRef":${snap.filesFrom}""" + renderTail(snap)
    val files = snap.files.map { f =>
      val st = f.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s""""$c":[$mn,$mx]""" }.mkString("{", ",", "}")
      val ss =
        if (f.sstats.isEmpty) ""
        else f.sstats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          s"${jm.writeValueAsString(c)}:[${jm.writeValueAsString(mn)}," +
            s"${jm.writeValueAsString(mx)}]"
        }.mkString(""","sstats":{""", ",", "}")
      val nl =
        if (f.nulls.isEmpty) ""
        else f.nulls.toSeq.sortBy(_._1).map { case (c, n) =>
          s"${jm.writeValueAsString(c)}:$n"
        }.mkString(""","nulls":{""", ",", "}")
      val ds =
        if (f.dstats.isEmpty) ""
        else f.dstats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          // Locale.ROOT-stable, round-trip-exact double text
          s"${jm.writeValueAsString(c)}:[" +
            java.lang.Double.toString(mn) + "," +
            java.lang.Double.toString(mx) + "]"
        }.mkString(""","dstats":{""", ",", "}")
      s"""{"path":"${f.path}","rows":${f.rows},"stats":$st$ss$nl$ds}"""
    }.mkString("[", ",", "]")
    renderMeta(snap) + s""""files":$files""" + renderTail(snap)
  }

  /** The manifest prefix before the file list / filesRef. Commit ts is
    * stamped at serialization: each link attempt (retries included)
    * carries the wall-clock of the attempt that actually won.
    */
  private def renderMeta(snap: Snapshot): String =
    s"""{"version":${snap.version},"op":"${snap.op}",""" +
      s""""statsCol":"${snap.statsCol}","schema":${snap.schemaJson},""" +
      s""""ts":${System.currentTimeMillis()},"""

  /** Every manifest field after the file list / filesRef. */
  private def renderTail(snap: Snapshot): String = {
    val jm = new com.fasterxml.jackson.databind.ObjectMapper()
    val txn = snap.txn.map(t => s""","txn":"$t"""").getOrElse("")
    val spec =
      if (snap.spec.isEmpty) ""
      else snap.spec.map(c => s""""$c"""").mkString(""","spec":[""", ",", "]")
    val dvs =
      if (snap.dvs.isEmpty) ""
      else snap.dvs.map(p => s""""$p"""").mkString(""","dvs":[""", ",", "]")
    val checks =
      if (snap.checks.isEmpty) ""
      else {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        // jackson-escaped: constraint expressions contain quotes freely
        snap.checks.toSeq.sortBy(_._1).map { case (n, e) =>
          s"${m.writeValueAsString(n)}:${m.writeValueAsString(e)}"
        }.mkString(""","checks":{""", ",", "}")
      }
    val bucket = snap.bucket.map { case (c, n) =>
      s""","bucket":["$c",$n]""" }.getOrElse("")
    val gen =
      if (snap.gen.isEmpty) ""
      else {
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        snap.gen.toSeq.sortBy(_._1).map { case (n, e) =>
          s"${m.writeValueAsString(n)}:${m.writeValueAsString(e)}"
        }.mkString(""","generated":{""", ",", "}")
      }
    val blooms =
      if (snap.blooms.isEmpty) ""
      else snap.blooms.map(p => s""""$p"""")
        .mkString(""","blooms":[""", ",", "]")
    val colmap =
      if (snap.colmap.isEmpty) ""
      else snap.colmap.toSeq.sortBy(_._1).map { case (l, p) =>
        s"${jm.writeValueAsString(l)}:${jm.writeValueAsString(p)}"
      }.mkString(""","colmap":{""", ",", "}")
    val dead =
      if (snap.dead.isEmpty) ""
      else snap.dead.map(jm.writeValueAsString)
        .mkString(""","dead":[""", ",", "]")
    val defaults =
      if (snap.defaults.isEmpty) ""
      else snap.defaults.toSeq.sortBy(_._1).map { case (c, (e, at)) =>
        s"${jm.writeValueAsString(c)}:[${jm.writeValueAsString(e)},$at]"
      }.mkString(""","defaults":{""", ",", "}")
    // only serialized where it DIFFERS from the version (the legacy
    // implicit value) — linear-history manifests stay byte-compatible
    val eraHi =
      if (snap.eraHi > 0 && snap.eraHi != snap.version)
        s""","eraHi":${snap.eraHi}"""
      else ""
    val props =
      if (snap.props.isEmpty) ""
      else snap.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${jm.writeValueAsString(k)}:${jm.writeValueAsString(v)}"
      }.mkString(""","props":{""", ",", "}")
    val idents =
      if (snap.idents.isEmpty) ""
      else snap.idents.toSeq.sortBy(_._1).map {
        case (c, (st, sp, al)) =>
          s"${jm.writeValueAsString(c)}:[$st,$sp,$al]"
      }.mkString(""","idents":{""", ",", "}")
    s"$txn$spec$dvs$checks$bucket$gen$blooms$colmap$dead$defaults" +
      s"$eraHi$props$idents}"
  }

  private[sources] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listDir(p).foreach(deleteRecursively)
    Files.delete(p)
  }
}
