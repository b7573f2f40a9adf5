package graft.cql

import graft.cql.Ast._
import org.json4s._
import org.json4s.jackson.Serialization

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

/** Durable storage for the CQL engine, one directory per table:
  * `manifest.json`, `checkpoint/<gen>/{rows,statics,pdel,ranges}`, flat
  * `segments/<part>.parquet` and the CDC archive `cdc/`. The manifest (≈ the
  * reference's `db/lifecycle` transaction log) is the only source of truth:
  * schema, live checkpoint generation, live segments, removals still owed
  * (delete, or archive into `cdc/`) and `max_ts`. Every change writes new
  * files, commits the manifest (temp file + atomic rename), then performs
  * the removals. Readers read listed files only, and [[attach]] finishes
  * owed removals and deletes unlisted files, so a process dying at any
  * step leaves exactly the state before or after the change.
  */
final class Storage(root: String, step: String => Unit) {
  import Storage._

  private val manifests = scala.collection.mutable.HashMap.empty[String, Manifest]

  private def tableDir(name: String): File = new File(root, name)
  private def ckDir(name: String, gen: Long): File =
    new File(new File(tableDir(name), CheckpointDir), gen.toString)

  /** Load the manifests, finish owed removals, delete unlisted files and
    * what a cut-short DROP left; local file IO only.
    */
  def attach(): Seq[Manifest] =
    Option(new File(root).listFiles()).toSeq.flatten.filter(_.isDirectory).sortBy(_.getName)
      .flatMap { d =>
        val mf = new File(d, ManifestFile)
        if (d.getName.startsWith(Dropped)) { deleteRec(d); None }
        else if (!mf.isFile) None
        else {
          val m = readManifest(mf)
          remove(m)
          manifests(m.schema.name) = m.copy(removals = Nil)
          // live: listed segments, their checksum sidecars, the checkpoint generation
          val live = (m.segments ++ m.segments.map(s => s".$s.crc") ++ m.checkpoint.map(_.toString)).toSet
          Seq(SegmentsDir, CheckpointDir).flatMap(p => listed(new File(d, p)))
            .filterNot(f => live(f.getName)).foreach(deleteRec)
          new File(d, ManifestFile + ".tmp").delete()
          Some(m)
        }
      }

  /** Does the table have durable data (segments or a checkpoint)? */
  def holdsData(name: String): Boolean =
    manifests.get(name).exists(m => m.checkpoint.isDefined || m.segments.nonEmpty)

  def segmentFiles(name: String): Seq[File] = manifests.get(name).toSeq.flatMap(_.segments)
    .map(s => new File(new File(tableDir(name), SegmentsDir), s))

  def checkpoint(name: String): Option[File] =
    manifests.get(name).flatMap(_.checkpoint).map(ckDir(name, _))

  /** `part` of the live checkpoint, unless the manifest counts it empty or
    * it was never written; a manifest without counts lists every part.
    */
  def checkpointPart(name: String, part: String): Option[File] =
    manifests.get(name).filterNot(_.partRows.exists(_.get(part).contains(0L)))
      .flatMap(_ => checkpoint(name)).map(new File(_, part)).filter(_.isDirectory)

  /** Run an appending parquet `write` into the segments directory; returns
    * the files it added, which are live only once a commit lists them.
    */
  def writeSegments(name: String)(write: String => Unit): Seq[String] = {
    val dir = new File(tableDir(name), SegmentsDir)
    val before = parquetNames(dir).toSet
    write(dir.getPath)
    Seq("_SUCCESS", "._SUCCESS.crc").foreach(n => new File(dir, n).delete())
    step("segments")
    parquetNames(dir).filterNot(before).sorted
  }

  /** Commit the schema and `maxTs` with `added` appended to the live segments. */
  def append(td: TableDef, added: Seq[String], maxTs: Long): Unit = {
    val m = current(td)
    commit(m.copy(schema = td, segments = m.segments ++ added, maxTs = m.maxTs max maxTs))
  }

  /** Commit a checkpoint generation written by `write` in place of the old
    * one, the live segments and the uncommitted segments `extra`; with
    * `archive` the consumed segments move into `cdc/` instead of going.
    * `write` returns the row count of each part it wrote, which the
    * manifest keeps and this returns.
    */
  def compact(td: TableDef, maxTs: Long, archive: Boolean, extra: Seq[String])(
      write: File => Map[String, Long]): Map[String, Long] = {
    val m = current(td)
    val gen = m.version + 1
    deleteRec(ckDir(td.name, gen)) // left by a failed attempt in this process
    val partRows = write(ckDir(td.name, gen))
    step("checkpoint")
    commit(Manifest(gen, td, Some(gen), Nil, m.checkpoint.map(g => s"$CheckpointDir/$g").toSeq ++
      (m.segments ++ extra).map(s => s"$SegmentsDir/$s"), archive, m.maxTs max maxTs, Some(partRows)))
    partRows
  }

  /** TRUNCATE: the schema survives; checkpoint, segments and CDC archive go. */
  def truncate(td: TableDef, maxTs: Long): Unit = manifests.get(td.name).foreach { m =>
    commit(Manifest(m.version + 1, td, None, Nil, Seq(CheckpointDir, SegmentsDir, CdcDir),
      archive = false, m.maxTs max maxTs))
  }

  /** DROP: moving the table directory aside is the commit; the files follow. */
  def drop(name: String): Unit = {
    manifests.remove(name)
    val trash = new File(root, Dropped + name)
    if (tableDir(name).exists) {
      deleteRec(trash)
      Files.move(tableDir(name).toPath, trash.toPath, StandardCopyOption.ATOMIC_MOVE)
      step("commit")
      deleteRec(trash)
    }
  }

  private def current(td: TableDef): Manifest =
    manifests.getOrElse(td.name, Manifest(0L, td, None, Nil, Nil, archive = false, 0L))

  private def commit(m: Manifest): Unit = {
    val dir = tableDir(m.schema.name)
    val tmp = new File(dir, ManifestFile + ".tmp")
    dir.mkdirs()
    Files.write(tmp.toPath, Serialization.write(m).getBytes(UTF_8))
    Files.move(tmp.toPath, new File(dir, ManifestFile).toPath, StandardCopyOption.ATOMIC_MOVE)
    manifests(m.schema.name) = m.copy(removals = Nil)
    step("commit")
    remove(m)
  }

  /** Perform a manifest's owed removals; each is idempotent. A segment's
    * checksum sidecar goes with it, also when the segment is archived.
    */
  private def remove(m: Manifest): Unit = m.removals.foreach { p =>
    val f = new File(tableDir(m.schema.name), p)
    val segment = p.startsWith(SegmentsDir + "/")
    if (m.archive && segment && f.exists) {
      val to = new File(new File(tableDir(m.schema.name), CdcDir), s"g${m.version}_${f.getName}")
      to.getParentFile.mkdirs()
      Files.move(f.toPath, to.toPath, StandardCopyOption.ATOMIC_MOVE)
    } else deleteRec(f)
    if (segment) new File(f.getParentFile, s".${f.getName}.crc").delete()
    step("remove")
  }
}

object Storage {
  private val ManifestFile = "manifest.json"
  private val CheckpointDir = "checkpoint"
  private val SegmentsDir = "segments"
  private val CdcDir = "cdc"
  private val Dropped = ".dropped-"

  /** One table's durable state. `version` rises with every compaction and
    * TRUNCATE and names the checkpoint generation; `removals` are paths owed
    * a delete, or with `archive` segments owed a move into `cdc/`;
    * `partRows` counts the rows of each checkpoint part.
    */
  final case class Manifest(version: Long, schema: TableDef, checkpoint: Option[Long],
                            segments: Seq[String], removals: Seq[String], archive: Boolean,
                            maxTs: Long, partRows: Option[Map[String, Long]] = None)

  /** The CDC bootstrap's tail source: a table's segment directory. */
  def segmentsPath(root: String, table: String): String = s"$root/$table/$SegmentsDir"

  /** The CDC stream's source: a table's live segments and its archive. */
  def cdcPath(root: String, table: String): String = s"$root/$table/{$SegmentsDir,$CdcDir}"

  /** `part` (rows, statics, pdel or ranges) of the live checkpoint, per the manifest on disk. */
  def checkpointPart(root: String, table: String, part: String): String =
    readManifest(new File(new File(root, table), ManifestFile)).checkpoint
      .map(g => s"$root/$table/$CheckpointDir/$g/$part")
      .getOrElse(throw new IllegalStateException(s"$table has no checkpoint"))

  private def listed(dir: File): Seq[File] = Option(dir.listFiles()).toSeq.flatten

  private def parquetNames(dir: File): Seq[String] =
    listed(dir).map(_.getName).filter(_.endsWith(".parquet"))

  private def deleteRec(f: File): Unit = {
    listed(f).foreach(deleteRec)
    f.delete()
  }

  // column kinds are stored by name and types structurally (UDTs with
  // their fields, so the schema round-trips without a type registry);
  // everything else maps field by field
  private object TypeFormat extends CustomSerializer[CqlType](_ => ({ case j => typeOf(j) },
    { case t: CqlType => typeJson(t) }))
  private object KindFormat extends CustomSerializer[ColumnKind](_ => (
    { case JString(s) => Seq(PartitionKey, Clustering, Static, Regular).find(_.toString == s).get },
    { case k: ColumnKind => JString(k.toString) }))
  private implicit val formats: Formats = DefaultFormats + TypeFormat + KindFormat

  private def typeJson(t: CqlType): JValue = t match {
    case CqlList(e) => JObject("list" -> typeJson(e))
    case CqlSet(e) => JObject("set" -> typeJson(e))
    case CqlMap(k, v) => JObject("map" -> JArray(List(typeJson(k), typeJson(v))))
    case CqlTuple(es) => JObject("tuple" -> JArray(es.map(typeJson).toList))
    case CqlUdt(n, fs) =>
      JObject("udt" -> JString(n), "fields" -> JObject(fs.map(f => f._1 -> typeJson(f._2)).toList))
    case other => JString(other.name)
  }

  private def typeOf(j: JValue): CqlType = j match {
    case JString(s) => CqlParser.types(s)
    case JObject(List(("list", e))) => CqlList(typeOf(e))
    case JObject(List(("set", e))) => CqlSet(typeOf(e))
    case JObject(List(("map", JArray(List(k, v))))) => CqlMap(typeOf(k), typeOf(v))
    case JObject(List(("tuple", JArray(es)))) => CqlTuple(es.map(typeOf))
    case JObject(List(("udt", JString(n)), ("fields", JObject(fs)))) =>
      CqlUdt(n, fs.map(f => f._1 -> typeOf(f._2)))
    case other => throw new IllegalArgumentException(s"unknown stored type $other")
  }

  private def readManifest(f: File): Manifest =
    Serialization.read[Manifest](new String(Files.readAllBytes(f.toPath), UTF_8))
}
