package graft.io

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style snapshot store (SURVEY §7.2 module 11).
  *
  * No Iceberg runtime jar ships in this sandbox (offline build), so this
  * module implements the Iceberg *contract* the pipeline needs — immutable
  * parquet data files + a tiny JSON manifest per snapshot (id, parent,
  * stage name, config fingerprint, row count, per-file row counts, schema,
  * optional input fingerprint), committed atomically by
  * manifest rename — giving checkpoint-based resumability and lineage
  * (north_rule: "restarts from the last committed snapshot"). A real
  * Iceberg catalog slots in by replacing this class: `commit` ≙ append
  * snapshot, `latest` ≙ current-snapshot scan.
  *
  * All I/O goes through the Hadoop `FileSystem`/`FileContext` API resolved
  * from the root URI, NOT `java.nio.file`: on a real cluster the store
  * root is `hdfs://…` (or an object store), where driver-local `Files.move`
  * has no meaning and resumability would die with the driver's machine. A
  * plain local path or `file://` URI maps to the local Hadoop FS and
  * behaves exactly as before (SnapshotSpec runs the same suite both ways).
  *
  * Atomicity caveat by scheme: the manifest swap uses
  * `FileContext.rename(OVERWRITE)`, which is atomic on HDFS and on the
  * local FS — a killed job leaves either the old manifest or the new one,
  * never a torn file. On S3/object stores rename is copy+delete and NOT
  * atomic; deployments there should point the store at an HDFS/consistent
  * volume or front it with a real Iceberg catalog (whose commit protocol
  * solves exactly this). Data files are immutable and id-suffixed, so the
  * non-atomic window only ever concerns the one-file manifest.
  *
  * Reference analog: trained-model JSON save/load + idempotent DDL reruns
  * (`person_1/link_model_per.py:745-752,1281-1286`, `person_1/person.py:752-756`).
  */
final class SnapshotStore(val root: String,
                          hadoopConf: Configuration = SnapshotStore.defaultConf()) {
  private val fs: FileSystem = new HPath(root).getFileSystem(hadoopConf)
  private val rootPath: HPath = fs.makeQualified(new HPath(root))
  // FileContext (not FileSystem.rename) for rename-with-overwrite: the
  // public FileSystem.rename(src,dst) refuses an existing destination, and
  // delete-then-rename would open a manifest-less crash window
  private val fc: FileContext = FileContext.getFileContext(rootPath.toUri, hadoopConf)
  private val dataDir: HPath = new HPath(rootPath, "data")
  private val manifestDir: HPath = new HPath(rootPath, "manifests")
  fs.mkdirs(dataDir)
  fs.mkdirs(manifestDir)

  private def manifestPath(stage: String): HPath = new HPath(manifestDir, s"$stage.json")

  private def readString(p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private def writeString(p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def listDir(dir: HPath): Array[HPath] =
    fs.listStatus(dir).map(_.getPath)

  /** Highest id this instance has ISSUED (not yet necessarily visible as
    * a manifest): a commit writes its parquet before its manifest, so a
    * concurrent nextId() re-scan alone would re-issue the in-flight id.
    * Cross-INSTANCE commits to one root are a single-writer contract (the
    * manifest swap is atomic, the counter is advisory — the same stance
    * as an Iceberg committer without a catalog lock). */
  private val lastIssued = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Next snapshot id (monotone counter across all stages). */
  private def nextId(): Long = synchronized {
    val ids = listDir(manifestDir)
      .filter(_.getName.endsWith(".json"))
      .map(p => SnapshotStore.json.readTree(readString(p)).path("id").asLong(0L))
    val scanned = if (ids.isEmpty) 1L else ids.max + 1
    val id = math.max(scanned, lastIssued.get() + 1)
    lastIssued.set(id)
    id
  }

  /** (path relative to `dir`, row count) of every parquet data file under
    * `dir`. The counts come from the file footers, read on the driver: no
    * Spark job, and exact under task retries and speculative duplicates
    * (only committed files exist). */
  private def fileRows(dir: HPath): Seq[(String, Long)] = {
    val base = dir.toUri.getPath.stripSuffix("/") + "/"
    val it = fs.listFiles(dir, true)
    val files = Seq.newBuilder[HPath]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.endsWith(".parquet")) files += p
    }
    files.result().map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, hadoopConf))
      try (p.toUri.getPath.stripPrefix(base), reader.getRecordCount) finally reader.close()
    }.sortBy(_._1)
  }

  /** Commit a stage result: write immutable parquet, then atomically move
    * the manifest into place. A killed job leaves either no manifest (stage
    * recomputes on restart) or a complete one (stage is skipped) — never a
    * half-visible snapshot.
    *
    * Committing executes exactly one Spark job, the write. The manifest
    * carries what a later reader needs without touching the data:
    *  - `files`: each data file's name and row count, read from the
    *    footers just written (the per-file lineage of the stage);
    *  - `rows`: their sum;
    *  - `schema`: the frame's schema, so [[latest]] reads without a
    *    schema-inference job;
    *  - `input`: `inputFingerprint`, when given — the fingerprint of the
    *    input the stage was computed from, which a later resume checks. */
  def commit(stage: String, df: DataFrame, configFingerprint: String,
             inputFingerprint: Option[String] = None): DataFrame = {
    // stage names are embedded raw in data and manifest file names —
    // constrain them instead of escaping; config fingerprints keep the
    // same plain alphabet (Pipeline passes hex; this makes it a contract)
    require(stage.matches("[A-Za-z0-9._-]+"), s"unsupported stage name: $stage")
    require(configFingerprint.matches("[A-Za-z0-9._-]*"),
      s"unsupported config fingerprint: $configFingerprint")
    val spark = df.sparkSession
    val id = nextId()
    val dest = new HPath(dataDir, s"$stage-$id")
    df.write.mode("overwrite").parquet(dest.toString)
    val files = fileRows(dest)
    val m = SnapshotStore.json.createObjectNode()
    m.put("id", id)
    m.put("parent", currentId(stage).getOrElse(0L))
    m.put("stage", stage)
    m.put("path", dest.toString)
    m.put("config", configFingerprint)
    m.put("rows", files.map(_._2).sum)
    val fileArr = m.putArray("files")
    files.foreach { case (name, rows) => fileArr.addObject().put("name", name).put("rows", rows) }
    m.set[JsonNode]("schema", SnapshotStore.json.readTree(df.schema.json))
    inputFingerprint.foreach(m.put("input", _))
    val tmp = new HPath(manifestDir, s".$stage.json.tmp")
    writeString(tmp, SnapshotStore.json.writeValueAsString(m))
    fc.rename(tmp, manifestPath(stage), Options.Rename.OVERWRITE)
    // read back with the KNOWN schema: schema inference would launch a
    // footer-read job
    spark.read.schema(df.schema).parquet(dest.toString)
  }

  private def readManifest(stage: String): Option[JsonNode] = {
    val p = manifestPath(stage)
    if (fs.exists(p)) Some(SnapshotStore.json.readTree(readString(p))) else None
  }

  private def field(stage: String, name: String): Option[JsonNode] =
    readManifest(stage).flatMap(m => Option(m.get(name)))

  def currentId(stage: String): Option[Long] = field(stage, "id").map(_.asLong)

  /** Manifest row count of the current snapshot for a stage (metrics use —
    * no data scan). */
  def currentRows(stage: String): Option[Long] = field(stage, "rows").map(_.asLong)

  /** (data file, rows) of the current snapshot for a stage; empty for a
    * manifest written before per-file counts were recorded. */
  def currentFiles(stage: String): Seq[(String, Long)] =
    field(stage, "files").toSeq.flatMap(_.asScala.map(f => (f.get("name").asText, f.get("rows").asLong)))

  /** Input fingerprint recorded with the current snapshot of a stage, if
    * its commit recorded one. */
  def inputFingerprint(stage: String): Option[String] = field(stage, "input").map(_.asText)

  /** Latest committed snapshot for a stage, iff its config fingerprint
    * matches (a changed engine config invalidates downstream snapshots —
    * model-JSON semantics). Reads with the manifest's schema when it has
    * one (no Spark job); an older manifest without it falls back to
    * schema inference. */
  def latest(spark: SparkSession, stage: String, configFingerprint: String): Option[DataFrame] =
    readManifest(stage)
      .filter(m => Option(m.get("config")).exists(_.asText == configFingerprint))
      .flatMap { m =>
        Option(m.get("path")).map(_.asText).filter(p => fs.exists(new HPath(p))).map { p =>
          Option(m.get("schema")).map(s => DataType.fromJson(s.toString)) match {
            case Some(schema: StructType) => spark.read.schema(schema).parquet(p)
            case _ => spark.read.parquet(p)
          }
        }
      }

  /** Compute-or-load: the resumability primitive. `inputFingerprint` is
    * recorded only when the stage is computed, never checked here. */
  def stage(spark: SparkSession, name: String, configFingerprint: String,
            inputFingerprint: Option[String] = None)
           (compute: => DataFrame): DataFrame =
    latest(spark, name, configFingerprint).getOrElse {
      commit(name, compute, configFingerprint, inputFingerprint)
    }

  /** Snapshot expiry (the Iceberg `expire_snapshots` contract this module
    * implements): every commit writes a fresh immutable `stage-<id>` data
    * dir and supersedes the previous one, so a long-lived resumable
    * deployment accumulates dead parquet forever without GC. Deletes all
    * but the `keepLast` newest data dirs per stage — NEVER the one the
    * stage's current manifest points to (resume stays byte-identical even
    * with keepLast = 1, enforced explicitly rather than assumed from id
    * ordering). Returns the number of data dirs deleted. */
  def expireSnapshots(keepLast: Int = 1): Int = synchronized {
    require(keepLast >= 1, "keepLast must be >= 1 (the current snapshot is never expired)")
    // dirs named <stage>-<id>; stage names may themselves contain '-', so
    // split on the LAST dash. Current manifest paths are always retained.
    // qualify BOTH sides of the retain check: a pre-port manifest stores a
    // plain local path while listStatus returns scheme-qualified paths
    // (file:/...), and a raw string compare would fail to protect such a
    // manifest's current data dir — expireSnapshots(keepLast=1) after a
    // crash could then delete the current snapshot's data and force a
    // silent recompute on resume
    val currentPaths = listDir(manifestDir)
      .filter(_.getName.endsWith(".json"))
      .flatMap(p => Option(SnapshotStore.json.readTree(readString(p)).get("path")).map(_.asText))
      .map(p => fs.makeQualified(new HPath(p)).toString)
      .toSet
    val byStage = fs.listStatus(dataDir).filter(_.isDirectory).map(_.getPath).flatMap { p =>
      val name = p.getName
      val cut = name.lastIndexOf('-')
      if (cut <= 0) None
      else name.drop(cut + 1).toLongOption.map(id => (name.take(cut), id, p))
    }.groupBy(_._1)
    var deleted = 0
    byStage.values.foreach { dirs =>
      dirs.sortBy(-_._2).drop(keepLast).foreach { case (_, _, p) =>
        if (!currentPaths.contains(fs.makeQualified(p).toString)) {
          fs.delete(p, true)
          deleted += 1
        }
      }
    }
    deleted
  }
}

object SnapshotStore {
  private val json = new ObjectMapper()

  /** Hadoop conf for the store: the active session's (so cluster-deployed
    * credentials/filesystem settings — fs.defaultFS, s3a keys — apply),
    * falling back to a vanilla Configuration off-session. */
  def defaultConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())
}
