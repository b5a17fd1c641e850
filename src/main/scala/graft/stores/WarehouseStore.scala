package graft.stores

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The persisted warehouse-store primitive shared by every store family
  * (minhash signatures, suffix ranks and gram indexes, the kNN graph,
  * IVF centroids, BPE token counts): one key scheme, one atomic publish,
  * one set of lifecycle verbs. A store is a parquet directory under
  * `spark.sql.warehouse.dir` named by its [[Key]]; it is complete when
  * its `_SUCCESS` marker exists, and it carries a `_meta.json`
  * provenance sidecar. Stores outlive the session and the JVM, so the
  * key must change whenever what the store holds could change: the
  * input (the snapshot), the query parameters, or the code that builds
  * it (the family's version).
  */
object WarehouseStore {

  /** Everything a store's contents depend on. `family` names the store
    * kind and is the readable part of the directory name; `version` is
    * the family's code version — bump it whenever the stored table's
    * output contract or its builder's code changes; `snapshot` is the
    * content identity of the input (normally [[fixtureSnapshot]]);
    * `params` are the builder's remaining arguments. The name digests
    * all four fields in full: a truncated digest could let two inputs
    * collide and serve the wrong table. */
  final case class Key(family: String, version: Int, snapshot: String, params: Seq[String]) {
    require(family.matches("[a-z0-9_]+"), s"store family must be [a-z0-9_]+, got '$family'")

    /** `graft_<family>_<32-hex md5>`. Each field is length-prefixed, so
      * no choice of field contents can make two keys encode alike. */
    def name: String =
      s"graft_${family}_" +
        md5Hex((Seq(family, version.toString, snapshot) ++ params).map(f => s"${f.length}:$f").mkString)
  }

  private[graft] def md5Hex(text: String): String =
    java.security.MessageDigest
      .getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x")
      .mkString

  /** Fingerprint of the fixture table `d/table` (file or directory).
    * Default mode is sorted name:size:mtime lines — an O(files) listing,
    * the right cost next to the builds it guards — whose one aliasing
    * hazard is an in-place rewrite that preserves each file's size AND
    * mtime (a `cp -p`'d fixture). Deployments that can't rule that out
    * opt into content hashing with `-Dgraft.store.contentHash=true`: the
    * snapshot becomes the md5 of every file's bytes, at the price of one
    * full read of the fixture per derivation. The two modes produce
    * disjoint snapshots (`content:` marker), so flipping the flag
    * invalidates — never aliases — existing stores. */
  def fixtureSnapshot(d: String, table: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val files = walk(new java.io.File(d, table))
    if (java.lang.Boolean.getBoolean("graft.store.contentHash")) {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { f =>
        md.update(s"${f.getName}|".getBytes("UTF-8"))
        val in = new java.io.FileInputStream(f)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
      s"$d|$table|content:" +
        md.digest().map(b => f"${b & 0xff}%02x").mkString
    } else
      files
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .mkString(s"$d|", "|", "")
  }

  /** Name of the provenance sidecar [[storedOrBuilt]] publishes with
    * every store. Underscore-prefixed on purpose: Spark's parquet reader
    * ignores `_`/`.`-prefixed files (the _SUCCESS convention), so the
    * sidecar rides inside the store dir without touching readback. */
  private val metaFile = "_meta.json"

  private def warehouse(s: SparkSession): (Path, FileSystem) = {
    val w = new Path(s.conf.get("spark.sql.warehouse.dir"))
    (w, w.getFileSystem(s.sparkContext.hadoopConfiguration))
  }

  /** Read the store named by `key`, building and publishing it first
    * when no complete one exists. The build lands in a dot-prefixed temp
    * dir and a directory RENAME publishes it, so readers only ever
    * observe a complete store, and two JVMs racing on one key cannot
    * interleave writes under the same path: the losing racer's temp is
    * deleted (if the winner's store is complete) or promoted (if the
    * winner tore). Directory rename is atomic on HDFS and local
    * filesystems; an object-store deployment without atomic rename wants
    * a lock file here instead. */
  def storedOrBuilt(s: SparkSession, key: Key)(build: => DataFrame): DataFrame = {
    val (wh, fs) = warehouse(s)
    val store = new Path(wh, key.name)
    def complete = fs.exists(new Path(store, "_SUCCESS"))
    if (!complete) {
      val tmp = new Path(wh, s".${key.name}_tmp_${java.util.UUID.randomUUID}")
      build.write.mode("overwrite").parquet(tmp.toString)
      // provenance rides INSIDE the temp dir so the rename publishes
      // data and metadata atomically together: created-at drives the TTL
      // purge, builder names the family that produced the store, source
      // carries the md5 of the snapshot the key was derived from — enough
      // to adjudicate a dead key without re-deriving every live key. The
      // family is [a-z0-9_]+ and the source an md5, so the JSON needs no
      // escaping.
      val metaJson =
        s"""{"name":"${key.name}","created_at_ms":${System.currentTimeMillis},""" +
          s""""builder":"${key.family}","source_md5":"${md5Hex(key.snapshot)}"}"""
      val out = fs.create(new Path(tmp, metaFile), true)
      try out.write(metaJson.getBytes("UTF-8"))
      finally out.close()
      // rename is guarded by an existence check: Hadoop's local-FS
      // rename onto an EXISTING directory moves the source INSIDE it
      // (POSIX mv semantics) instead of refusing — publish() refuses
      // explicitly so a pre-existing destination is adjudicated below.
      // The check-then-rename still has a window (a racer can publish
      // between the two calls and our rename lands INSIDE their store),
      // so publish() post-verifies: a nested dot-dir means we lost the
      // race — remove it from the winner's store and report failure.
      // tmpAlive tracks whether our temp still exists to delete.
      var tmpAlive = true
      def publish(): Boolean =
        if (fs.exists(store) || !fs.rename(tmp, store)) false
        else {
          val nested = new Path(store, tmp.getName)
          if (fs.exists(nested)) {
            fs.delete(nested, true); tmpAlive = false; false
          } else { tmpAlive = false; true }
        }
      if (!publish()) {
        // a concurrent builder won — use theirs if complete, replace a
        // torn one, and never leave the temp behind either way (the
        // torn-winner-plus-lost-temp double race falls through to the
        // loud require below)
        if (complete) { if (tmpAlive) fs.delete(tmp, true) }
        else if (tmpAlive) {
          fs.delete(store, true)
          if (!publish() && tmpAlive) fs.delete(tmp, true)
        }
      }
      require(
        complete,
        s"warehouse store $store is incomplete after build+publish — " +
          "a concurrent writer tore it; remove the directory and rerun"
      )
    }
    graft.sources.Tables.parquet(s, store.toString)
  }

  /** Inventory of the stores whose names start with `prefix` (default:
    * every family) as (name, bytes). In-flight temp dirs are dot-prefixed
    * and matched too — a crashed builder's temp is exactly the garbage
    * [[purge]] exists for. */
  def list(s: SparkSession, prefix: String = "graft_"): Seq[(String, Long)] = {
    val (wh, fs) = warehouse(s)
    if (!fs.exists(wh)) Seq.empty
    else
      fs.listStatus(wh)
        .toSeq
        .filter(st => st.getPath.getName.stripPrefix(".").startsWith(prefix))
        .map(st => (st.getPath.getName, fs.getContentSummary(st.getPath).getLength))
        .sortBy(_._1)
  }

  /** Delete every store under `prefix` except the names in `keep`, and
    * return what was removed. Without this, one directory per (version,
    * snapshot, params) accumulates forever — every fixture regeneration
    * or version bump strands the previous store. Only stores that
    * actually deleted are reported: a failed delete claimed as swept
    * would leave stale bytes the caller believes are gone. Caveat: a
    * dot-prefixed temp belonging to a LIVE concurrent builder matches
    * the prefix and purging it fails that build — run purge when no
    * builds are in flight (the key makes the failed builder's rerun
    * cheap and correct either way). */
  def purge(s: SparkSession, keep: Set[String] = Set.empty, prefix: String = "graft_"): Seq[String] = {
    val (wh, fs) = warehouse(s)
    list(s, prefix)
      .map(_._1)
      .filterNot(keep)
      .filter(name => fs.delete(new Path(wh, name), true))
  }

  /** One store's provenance row: bytes from the namespace listing,
    * created-at / builder / source-md5 from the `_meta.json` sidecar
    * when present. Crashed builders' dot-temps (whose meta may or may
    * not have been written yet) report None — [[purgeOlderThan]] ages
    * those by directory mtime instead. */
  final case class StoreMeta(
      name: String,
      bytes: Long,
      createdAtMs: Option[Long],
      builder: Option[String],
      sourceMd5: Option[String]
  )

  /** [[list]] with each store's provenance sidecar read back. The
    * sidecar is our own fixed-shape JSON, so a regex pull per field
    * reads it without a JSON library on the driver path. */
  def meta(s: SparkSession, prefix: String = "graft_"): Seq[StoreMeta] = {
    val (wh, fs) = warehouse(s)
    def field(json: String, key: String): Option[String] =
      s""""$key":"?([^",}]*)"?""".r.findFirstMatchIn(json).map(_.group(1))
    list(s, prefix).map { case (name, bytes) =>
      val metaPath = new Path(new Path(wh, name), metaFile)
      val json =
        if (!fs.exists(metaPath)) None
        else {
          val in = fs.open(metaPath)
          try Some(new String(in.readAllBytes(), "UTF-8"))
          finally in.close()
        }
      StoreMeta(
        name,
        bytes,
        json.flatMap(field(_, "created_at_ms")).flatMap(_.toLongOption),
        json.flatMap(field(_, "builder")).filter(_.nonEmpty),
        json.flatMap(field(_, "source_md5")).filter(_.nonEmpty)
      )
    }
  }

  /** TTL purge — the executable form of the rebuild schedule SCALING.md
    * documents. Deletes every store under `prefix` older than
    * `olderThanMs` — age from the `_meta.json` created-at when present,
    * else the directory's own mtime (crashed builders' dot-temp orphans
    * age this way) — except names in `keep`. Same honesty contract as
    * [[purge]]: only stores that actually deleted are reported, and a
    * LIVE builder's dot-temp matches the prefix — run with no builds in
    * flight, or keep the TTL above the longest build. `nowMs` is a
    * parameter so specs pin the clock. */
  def purgeOlderThan(
      s: SparkSession,
      olderThanMs: Long,
      keep: Set[String] = Set.empty,
      prefix: String = "graft_",
      nowMs: Long = System.currentTimeMillis
  ): Seq[String] = {
    val (wh, fs) = warehouse(s)
    meta(s, prefix)
      .map(m => m.name -> m.createdAtMs.getOrElse(fs.getFileStatus(new Path(wh, m.name)).getModificationTime))
      .collect { case (name, born) if nowMs - born > olderThanMs => name }
      .filterNot(keep)
      .filter(name => fs.delete(new Path(wh, name), true))
  }
}
