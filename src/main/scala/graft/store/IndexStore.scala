package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The ONE on-disk layout and commit protocol of the span, IVF and
  * MinHash indexes; each index supplies only its data, params and rewrite.
  *
  * Layout at `dir`: `_meta.json` (kind, params, build stats); each data
  * part of each batch at `<part>/_batch=<id>/…` (IVF keeps `_cell=N`
  * below that); batch markers at `_batches/<id>/{_REPLACES,_COMMIT}`;
  * index-wide sidecars at `<name>` (the IVF centroids). A batch is LIVE
  * when committed and named in no committed `_REPLACES` manifest; readers
  * open only live batches, one scan per part with `basePath` =
  * `dir/<part>`, so IVF probes keep their `_cell` partition filters.
  *
  * Crash contract — a writer that dies at any step leaves the index
  * reading as exactly the state before or after that step:
  *   - `create` deletes the old index (markers first), writes the base
  *     data, sidecars and meta, then commits `base`; a crash leaves no
  *     committed batch, so probes fail loudly, never mixing generations.
  *   - `append` un-commits a same-id attempt, writes the data, then
  *     `_COMMIT`; a crashed append is invisible, a same-id retry
  *     overwrites it.
  *   - `compact` finishes a predecessor's source deletes, drops
  *     uncommitted leftovers, writes the merged data, then `_REPLACES`
  *     (the live sources), then `_COMMIT` (the atomic switch), then
  *     deletes the sources; a same-id retry or a later fresh-id
  *     compaction converges to one generation.
  * Appends and compactions are exclusive with each other and with probes:
  * the contract covers a writer that DIES, not a reader racing the source
  * deletes. Indexes in the layout before this store must be rebuilt.
  */
private[graft] object IndexStore {

  /** One index kind: the name recorded in its meta, the public writer
    * named in error messages, its data parts and its sidecars. */
  final case class Kind(name: String, writer: String, parts: Seq[String],
                        sidecars: Seq[String] = Nil)

  /** Parsed `_meta.json`: typed field access, failing loudly with the dir. */
  final class Meta(dir: String, private[store] val json: JValue) {
    def long(f: String): Long = num(f, json \ f).toLong
    def int(f: String): Int = long(f).toInt
    def ints(f: String): Array[Int] = (json \ f).children.map(num(f, _).toInt).toArray
    private def num(f: String, v: JValue): BigInt = v match {
      case JInt(n) => n
      case _ => throw new IllegalStateException(
        s"index meta under $dir has bad field '$f': $v")
    }
  }

  /** Where compaction stops early: the crash points the spec injects. */
  object Stop extends Enumeration {
    val Never, AfterData, AfterReplaces, AfterCommit, MidDeletes = Value
  }

  private val MetaFile = "_meta.json"

  def dataPath(dir: String, part: String, id: String): String =
    s"$dir/$part/_batch=$id"

  def sidecar(dir: String, name: String): String = s"$dir/$name"

  private def marker(dir: String, id: String, name: String = "") =
    new Path(s"$dir/_batches/$id/$name")

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeText(f: FileSystem, p: Path, text: String): Unit = {
    val out = f.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  // dir -> (meta file stamp, meta, the value derived from this index
  // version). One getFileStatus per call; the parse and the derived load
  // (the IVF quantizer) rerun only when `_meta.json` changed — a rebuild
  // by ANOTHER process rewrites it, so no JVM probes stale centroids.
  private final class Entry(val stamp: String, val meta: Meta) {
    var derived: AnyRef = _
  }
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private def entry(spark: SparkSession, dir: String, kind: Kind): Entry = {
    val f = fs(spark, dir)
    val p = new Path(dir, MetaFile)
    val st = try f.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => throw new IllegalStateException(
        s"no ${kind.name} index under $dir (no $MetaFile; an index in an " +
          s"older layout must be rebuilt) — build it with ${kind.writer}")
    }
    val stamp = s"${st.getLen}:${st.getModificationTime}"
    val e = cache.compute(dir, (_, cached) =>
      if (cached != null && cached.stamp == stamp) cached
      else try new Entry(stamp, new Meta(dir, JsonMethods.parse(readText(f, p))))
      catch { // bad checksum, truncated JSON: loud, never a silent default
        case e: Exception => throw new IllegalStateException(
          s"corrupt index meta $dir/$MetaFile (${e.getMessage}) — " +
            s"rebuild with ${kind.writer}", e)
      })
    val found = e.meta.json \ "kind"
    require(found == JString(kind.name),
      s"$dir holds a ${found.values} index, not a ${kind.name} index")
    e
  }

  def meta(spark: SparkSession, dir: String, kind: Kind): Meta =
    entry(spark, dir, kind).meta

  /** The value `load` derives from the index's sidecars, cached with its
    * meta (one per index version — the IVF quantizer). */
  def derived[T <: AnyRef](spark: SparkSession, dir: String, kind: Kind)
                          (load: => T): T = {
    val e = entry(spark, dir, kind)
    e.synchronized {
      if (e.derived == null) e.derived = load
      e.derived.asInstanceOf[T]
    }
  }

  private def dirNames(f: FileSystem, p: Path): Seq[String] =
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq

  /** Committed batch id -> the ids its `_REPLACES` manifest names. */
  private def committed(f: FileSystem, dir: String): Map[String, Seq[String]] =
    dirNames(f, marker(dir, "")).flatMap { id =>
      val names = f.listStatus(marker(dir, id)).map(_.getPath.getName).toSet
      if (!names("_COMMIT")) None
      else Some(id -> (if (!names("_REPLACES")) Nil
        else readText(f, marker(dir, id, "_REPLACES")).split("\n").toSeq))
    }.toMap

  private def liveOf(c: Map[String, Seq[String]]): Seq[String] =
    c.keys.filterNot(c.values.flatten.toSet).toSeq.sorted

  /** The live batch ids, sorted. */
  def live(spark: SparkSession, dir: String): Seq[String] =
    liveOf(committed(fs(spark, dir), dir))

  /** Every batch id with a marker or a data directory on disk, live or not. */
  def onDisk(spark: SparkSession, dir: String, kind: Kind): Set[String] = {
    val f = fs(spark, dir)
    (dirNames(f, marker(dir, "")) ++ kind.parts.flatMap(part =>
      dirNames(f, new Path(dir, part)).map(_.stripPrefix("_batch=")))).toSet
  }

  /** One scan over `part` of the live batches. */
  def read(spark: SparkSession, dir: String, kind: Kind, part: String): DataFrame =
    read(spark, dir, kind, part, live(spark, dir))

  /** One scan over `part` of batches `ids`. */
  def read(spark: SparkSession, dir: String, kind: Kind, part: String,
           ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, s"no committed batches in the ${kind.name} " +
      s"index under $dir — build it with ${kind.writer}")
    spark.read.option("basePath", s"$dir/$part")
      .parquet(ids.map(dataPath(dir, part, _)): _*).drop("_batch")
  }

  private def commit(f: FileSystem, dir: String, id: String): Unit =
    f.create(marker(dir, id, "_COMMIT"), true).close()

  /** A batch's marker directory, then its data: deleting in this order
    * leaves a crash part-way through an uncommitted leftover. */
  private def batchPaths(dir: String, kind: Kind, id: String): Seq[Path] =
    marker(dir, id) +: kind.parts.map(p => new Path(dataPath(dir, p, id)))

  /** (Re)build the index: `build` writes every part of batch `base` (at
    * [[dataPath]]) and the sidecars, and returns the meta fields. */
  def create(spark: SparkSession, dir: String, kind: Kind)
            (build: => List[JField]): Unit = {
    val f = fs(spark, dir)
    (marker(dir, "") +: (MetaFile +: (kind.parts ++ kind.sidecars))
      .map(new Path(dir, _))).foreach(f.delete(_, true))
    cache.remove(dir)
    val fields = ("kind" -> JString(kind.name)) :: build
    writeText(f, new Path(dir, MetaFile),
      JsonMethods.compact(JsonMethods.render(JObject(fields))))
    commit(f, dir, "base")
  }

  private def requireSafe(id: String): Unit =
    require(id.matches("[A-Za-z0-9._-]+") && id != "base",
      s"batch id '$id' must be a filesystem-safe name (not 'base')")

  /** Add batch `id`: `write` writes its parts at [[dataPath]]. */
  def append(spark: SparkSession, dir: String, kind: Kind, id: String)
            (write: => Unit): Unit = {
    requireSafe(id)
    meta(spark, dir, kind)
    val f = fs(spark, dir)
    val c = committed(f, dir)
    // a name in a live _REPLACES manifest is invisible to readers forever
    // — data appended under it would never be probed
    require(!c.values.flatten.toSet.contains(id),
      s"batch id '$id' was consumed by a prior compaction and is " +
        "reader-invisible forever — use a fresh id")
    require(c.getOrElse(id, Nil).isEmpty,
      s"batch id '$id' collides with a compacted batch — use a fresh id")
    f.delete(marker(dir, id), true)
    write
    commit(f, dir, id)
  }

  /** Merge the live batches into batch `newId`: `rewrite` gets the live
    * ids and writes every part of `newId` at [[dataPath]]. Returns its
    * result, or None when `newId` was committed already and this call
    * only finished its deletes. */
  def compact[T](spark: SparkSession, dir: String, kind: Kind, newId: String,
                 stop: Stop.Value = Stop.Never)(rewrite: Seq[String] => T): Option[T] = {
    requireSafe(newId)
    meta(spark, dir, kind)
    val f = fs(spark, dir)
    val c = committed(f, dir)
    if (c.contains(newId)) {
      // a committed batch of this name is a PRIOR ATTEMPT only if it
      // carries a manifest; a plain one is an id collision, and an early
      // return would leave the caller believing the index was compacted
      require(c(newId).nonEmpty, s"compaction id '$newId' collides with " +
        "a live append batch — pick a fresh id")
      c(newId).flatMap(batchPaths(dir, kind, _)).foreach(f.delete(_, true))
      return None
    }
    // finish a predecessor's deletes FIRST: its sources are hidden only
    // by its live manifest, and compacting that batch away would
    // resurrect them next to this compaction's copy of their data. Then
    // drop uncommitted leftovers (dead appends and compactions).
    (c.values.flatten.toSet ++ (onDisk(spark, dir, kind) -- c.keySet)).toSeq
      .flatMap(batchPaths(dir, kind, _)).foreach(f.delete(_, true))
    val sources = liveOf(c)
    require(sources.nonEmpty, s"no committed batches in the ${kind.name} " +
      s"index under $dir — nothing to compact")
    val out = Some(rewrite(sources))
    if (stop == Stop.AfterData) return out
    writeText(f, marker(dir, newId, "_REPLACES"), sources.mkString("\n"))
    if (stop == Stop.AfterReplaces) return out
    commit(f, dir, newId)
    if (stop == Stop.AfterCommit) return out
    val paths = sources.flatMap(batchPaths(dir, kind, _))
    paths.take(if (stop == Stop.MidDeletes) paths.size - 1 else paths.size)
      .foreach(f.delete(_, true))
    out
  }
}
