package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.OptionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * IceLite — a minimal Iceberg-shaped table format (SURVEY.md §7.1 `tables/`):
 * Parquet data files + JSON snapshot/manifest metadata with per-partition
 * lineage (row count + order-independent checksum), giving the engine the
 * north rule's checkpoint-resume semantics. No Iceberg jar exists offline;
 * this implements the subset the engine needs:
 *
 *  - table dir layout: `data/<partition-value>/…parquet` (partition col kept in the files) + `_icelite/vN.json`
 *    + `_icelite/VERSION` (atomic pointer via temp-file + POSIX rename);
 *  - a snapshot = the committed set of logical partitions with lineage
 *    `{partition, rows, checksum, files}`;
 *  - commit unit = one logical partition (the reference's crash-tolerant
 *    batch unit, `Neo4jDB.java:174`, `CityKGDB.java:289-334`, scaled up);
 *  - resume = recompute only partitions missing from the current snapshot —
 *    callers derive data deterministically (content-derived ids, F8), so a
 *    re-run is idempotent and the final table is byte-stable;
 *  - checksum = Σ (as decimal, overflow-free) of xxhash64 over all columns —
 *    order-independent, so it is stable under shuffle/parallelism changes;
 *  - lineage comes from ONE grouped aggregation over the freshly staged
 *    files (all pending partitions staged in a single distributed write);
 *    `verifyLineage` recomputes it independently for audit;
 *  - one data file per committed partition: the staging write hash-
 *    repartitions the pending rows on the partition key (one shuffle ahead
 *    of the write), so each value's rows are written by one task; a
 *    committed partition is never appended to, so the file count stays one.
 *
 * Metadata I/O is driver-side JSON (tiny); data I/O is ordinary distributed
 * parquet. At 100 TB the manifest holds O(#partitions) entries, not O(rows).
 *
 * Tables are local (`Paths.get`, `Files.move`), and the [[writeResumable]]
 * stage writes through [[LocalFs]]: without `libhadoop` Hadoop's local file
 * system forks a `chmod` process for every `setPermission`, three per
 * output file (the partition dir, the data file, its `.crc`); `LocalFs`
 * makes each one a syscall. With `libhadoop` Hadoop's `NativeIO.chmod`
 * already does so. The files, their `.crc` sidecars and their permissions
 * are the same.
 */
object IceLite {

  final case class PartitionLineage(partition: String, rows: Long, checksum: String)
  final case class Snapshot(version: Int, partitions: Seq[PartitionLineage]) {
    def committedSet: Set[String] = partitions.map(_.partition).toSet
  }

  private def metaDir(table: String): Path = Paths.get(table, "_icelite")
  private def versionFile(table: String): Path = metaDir(table).resolve("VERSION")

  def currentSnapshot(table: String): Snapshot = {
    val vf = versionFile(table)
    if (!Files.exists(vf)) return Snapshot(0, Seq.empty)
    val v = new String(Files.readAllBytes(vf), StandardCharsets.UTF_8).trim.toInt
    if (v == 0) return Snapshot(0, Seq.empty)
    readSnapshot(table, v)
  }

  private def readSnapshot(table: String, v: Int): Snapshot = {
    val txt = new String(Files.readAllBytes(metaDir(table).resolve(s"v$v.json")),
      StandardCharsets.UTF_8)
    Snapshot(v, parseManifest(txt))
  }

  // minimal hand-rolled JSON (flat, controlled schema — no external dep)
  private def renderManifest(s: Snapshot): String = {
    val parts = s.partitions.map { p =>
      s"""{"partition":${q(p.partition)},"rows":${p.rows},"checksum":${q(p.checksum)}}"""
    }.mkString("[", ",", "]")
    s"""{"version":${s.version},"partitions":$parts}"""
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val PartRe = """\{"partition":"((?:[^"\\]|\\.)*)","rows":(\d+),"checksum":"((?:[^"\\]|\\.)*)"\}""".r

  private def parseManifest(txt: String): Seq[PartitionLineage] =
    PartRe.findAllMatchIn(txt).map { m =>
      PartitionLineage(unq(m.group(1)), m.group(2).toLong, unq(m.group(3)))
    }.toSeq

  private def unq(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** The two lineage aggregates: row count + Σ xxhash64(all cols) — order-
    * independent, so stable under shuffle/parallelism changes. MAP columns
    * are canonicalized to sorted entry arrays first (Spark forbids hashing
    * maps because their iteration order is unspecified). */
  private def lineageAggs(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val hashable = df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType =>
          sort_array(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(hashable.toSeq: _*).cast("decimal(38,0)")), lit(0))
        .as("checksum"))
  }

  /** Order-independent (rows, checksum) lineage of a whole DataFrame in one
    * aggregation pass — the same aggregates [[lineageByPartition]] computes
    * per partition for the write path and `verifyLineage`, so a manifest's
    * numbers can be checked against an independent recompute of the
    * partition's rows (TileIceSpec does). */
  def lineageOf(df: DataFrame): (Long, String) = {
    val aggs = lineageAggs(df)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    (row.getLong(0), Option(row.get(1)).map(_.toString).getOrElse("0"))
  }

  /** Per-partition (rows, checksum) of `df`'s `cols`, keyed by the string
    * value of `partCol` — ONE grouped aggregation, one collect. */
  private def lineageByPartition(df: DataFrame, cols: Seq[String],
                                 partCol: String): Map[String, (Long, String)] = {
    val aggs = lineageAggs(df.select(cols.map(col): _*))
    df.groupBy(col(partCol).cast("string").as("__pv"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.toString).getOrElse("0")))
      .toMap
  }

  /** Dir of partition value `pv` under a `partitionBy("__pk")` stage. Spark's
    * partitionBy naming maps the EMPTY string (like null) to
    * __HIVE_DEFAULT_PARTITION__, not to escapePathName("") — while the final
    * dir name uses [[escapePart]] (same escaping + dot-only/empty names
    * encoded). */
  private def stagedDir(stage: String, pv: String): Path =
    Paths.get(stage, "__pk=" + (if (pv.isEmpty)
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(pv)))

  /** Hive/Iceberg-style percent-escaping for partition values used in paths
    * ('/', '..', ':' … would otherwise traverse outside the table dir or
    * produce unreadable file names); the manifest stores the RAW value. */
  def escapePart(v: String): String = {
    val e = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)
    // Hive escaping leaves "." / ".." / "" alone — as a final path segment
    // those resolve to the table dir itself (traversal); encode the dots.
    if (e.isEmpty) "%00" else if (e.forall(_ == '.')) e.replace(".", "%2E") else e
  }

  /**
   * Resumable write: materialize only the partitions of `partCol` missing
   * from the current snapshot; commit each partition with its lineage, then
   * atomically advance the snapshot pointer. Returns (written, skipped).
   *
   * Scale shape: ONE distributed write stages every pending partition
   * (a hash exchange on a duplicate key column, then `partitionBy` on it, so
   * each partition is one file and the data files keep `partCol` itself),
   * ONE aggregation over the staged output computes per-partition lineage,
   * and the per-partition COMMIT loop is pure
   * driver-side metadata (dir rename + manifest write). The previous design
   * ran one write job + one full upstream scan per pending partition — O(P)
   * scans of the input; this is O(1) scans regardless of partition count,
   * while keeping the partition as the crash-tolerant commit unit (a crash
   * mid-loop leaves a prefix committed; resume stages only the remainder).
   */
  def writeResumable(df: DataFrame, table: String, partCol: String): (Seq[String], Seq[String]) = {
    Files.createDirectories(metaDir(table))
    val snap = currentSnapshot(table)
    val allRaw = df.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    // null partition values have no stable identity in the manifest (and no
    // readable path segment) — reject up front instead of NPE-ing mid-commit
    require(!allRaw.contains(null),
      s"IceLite: null value in partition column '$partCol' — map nulls to a sentinel first")
    val all = allRaw.sorted.toSeq
    val skipped = all.filter(snap.committedSet.contains)
    val todo = all.filterNot(snap.committedSet.contains)
    if (todo.isEmpty) return (Seq.empty, skipped)

    val stage = s"$table/_icelite_stage"
    // pending filter: the optimizer (OptimizeIn) turns a literal list of
    // more than 10 values into a hashed InSet, so one filter serves every
    // pending-partition count
    val pending = if (skipped.isEmpty) df
      else df.where(col(partCol).cast("string").isin(todo: _*))
    // stage all pending partitions in one distributed write; the hash
    // exchange on the key puts each value's rows in one task, so each
    // partition is staged (and committed) as exactly one data file
    pending.withColumn("__pk", col(partCol).cast("string"))
      .repartition(col("__pk"))
      .write.mode("overwrite").options(LocalFs.writeOptions).partitionBy("__pk").parquet(stage)
    // per-partition lineage in one aggregation over the staged files
    // (reads back what was actually persisted — a stronger audit base than
    // re-aggregating the upstream plan); the writer's schema is known, so the
    // read infers none (no schema-inference job)
    val lineage = lineageByPartition(
      df.sparkSession.read.schema(df.schema).parquet(stage), df.columns.toSeq, partCol)
    // commit loop: driver-side only — move staged dir into place, advance
    // the snapshot pointer once per partition (the crash-tolerant unit)
    var current = snap
    todo.foreach { pv =>
      val from = stagedDir(stage, pv)
      val to = Paths.get(table, "data", escapePart(pv))
      Files.createDirectories(to.getParent)
      if (Files.exists(to)) deleteRecursive(to) // re-run after crash-before-commit
      Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      val (rows, checksum) = lineage(pv)
      current = Snapshot(current.version + 1,
        current.partitions :+ PartitionLineage(pv, rows, checksum))
      commitSnapshot(table, current)
    }
    deleteRecursive(Paths.get(stage))
    (todo, skipped)
  }

  private def deleteRecursive(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list must be closed explicitly or each visited directory leaks
      // an fd until GC — a stage dir with thousands of partitions hits ulimit
      val s = Files.list(p)
      try s.forEach(deleteRecursive(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Atomic snapshot advance: write vN.json, then rename a temp VERSION file. */
  private def commitSnapshot(table: String, s: Snapshot): Unit = {
    val md = metaDir(table)
    Files.write(md.resolve(s"v${s.version}.json"),
      renderManifest(s).getBytes(StandardCharsets.UTF_8))
    val tmp = md.resolve(s"VERSION.tmp${s.version}")
    Files.write(tmp, s.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, versionFile(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the committed table back (partition col lives in the data files):
    * [[readVersion]] of the current snapshot, so a partition dir that a
    * crashed [[writeResumable]] moved into `data/` but never committed is not
    * served. Fails, naming the table, when it has no commit. */
  def read(spark: SparkSession, table: String): DataFrame = {
    val version = currentSnapshot(table).version
    require(version >= 1, s"IceLite: table '$table' has no committed snapshot")
    readVersion(spark, table, version)
  }

  /** The schema Spark wrote into the footer of the first data file under
    * `dirs` (the `org.apache.spark.sql.parquet.row.metadata` key), read on
    * the driver; None when no file carries it. */
  private def footerSchema(spark: SparkSession, dirs: Seq[String]): Option[StructType] = {
    val file = dirs.iterator.flatMap { d =>
      val s = Files.list(Paths.get(d))
      try s.filter(_.getFileName.toString.endsWith(".parquet")).sorted().findFirst().toScala
      finally s.close()
    }.nextOption()
    file.flatMap { f =>
      val in = HadoopInputFile.fromPath(new HPath(f.toUri), spark.sparkContext.hadoopConfiguration)
      val reader = ParquetFileReader.open(in)
      try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally reader.close()
    }.map(DataType.fromJson(_).asInstanceOf[StructType])
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /**
   * Time travel: read the table AS OF snapshot `version`. Valid because
   * commits are append-only at partition granularity — a partition, once in
   * a manifest, is never rewritten (resume skips it) — so the data
   * dirs named by manifest vN still hold exactly vN's rows. Old manifests
   * are retained (`_icelite/vN.json`), making every historical version
   * addressable at zero storage cost beyond the tiny JSON.
   */
  def readVersion(spark: SparkSession, table: String, version: Int): DataFrame = {
    require(version >= 1, s"version must be >= 1, got $version")
    require(Files.exists(metaDir(table).resolve(s"v$version.json")),
      s"IceLite: snapshot v$version of '$table' does not exist or was expired " +
        s"(current version: ${currentSnapshot(table).version}; see expireVersions)")
    val snap = readSnapshot(table, version)
    val dirs = snap.partitions.map(p => s"$table/data/${escapePart(p.partition)}")
    // the writer's schema from a footer: no schema-inference job
    footerSchema(spark, dirs).fold(spark.read)(spark.read.schema(_)).parquet(dirs: _*)
  }

  /**
   * Snapshot expiration — the retention companion to time travel: retained
   * manifests otherwise grow one vN.json per commit forever. Keeps the
   * newest `keepN` manifests (the current version always survives) and
   * deletes older ones. Commits are append-only at partition granularity,
   * so every data dir
   * referenced by an expired manifest is still referenced by every retained
   * one — expiration is pure metadata deletion, never touches `data/` or
   * any stage dir (a stage dir may be another writer's LIVE working set;
   * writeResumable overwrites only its OWN stage), and the
   * oldest RETAINED version stays byte-identical readable. Reading an
   * expired version fails loudly in [[readVersion]]. Returns the expired
   * version numbers.
   */
  def expireVersions(table: String, keepN: Int): Seq[Int] = {
    require(keepN >= 1, s"IceLite.expireVersions: keepN must be >= 1, got $keepN")
    val cur = currentSnapshot(table).version
    if (cur == 0) return Seq.empty
    val horizon = math.max(1, cur - keepN + 1) // oldest retained version
    val expired = (1 until horizon)
      .filter(v => Files.exists(metaDir(table).resolve(s"v$v.json")))
    expired.foreach(v => Files.deleteIfExists(metaDir(table).resolve(s"v$v.json")))
    expired
  }

  /**
   * Audit: recompute lineage per committed partition and compare with the
   * manifest — the metrics-table verification the north rule asks for.
   * ONE grouped aggregation over the whole table (a per-partition read loop
   * would be one Spark job per partition — O(P) jobs at 10k partitions).
   */
  def verifyLineage(spark: SparkSession, table: String, partCol: String): Seq[(String, Boolean)] = {
    val snap = currentSnapshot(table)
    if (snap.partitions.isEmpty) return Seq.empty
    val df = read(spark, table)
    val got = lineageByPartition(df, df.columns.toSeq, partCol)
    snap.partitions.map { p =>
      p.partition -> got.get(p.partition).exists { case (rows, cs) =>
        rows == p.rows && cs == p.checksum
      }
    }
  }
}
