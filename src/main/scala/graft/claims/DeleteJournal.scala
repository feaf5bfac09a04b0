package graft.claims

import org.apache.hadoop.fs.{FileSystem, Path}

/** Crash-safe journal for directory deletes that follow a committed
  * partitioned overwrite (HubStore's vacated month partitions,
  * SeriesMart's vacated key buckets). The dirs a journal lists are
  * already superseded by the committed write, so deleting them is safe
  * at any later time — the journal only exists so a crash between the
  * commit and the deletes is healed by the next writer instead of
  * leaving stale files forever.
  *
  * Torn-write safety: the marker is written to a `.tmp` name and
  * RENAMED into place (atomic on HDFS and posix filesystems), because a
  * truncated last line can name a LIVE directory ("접수월=11" cut to
  * "접수월=1") that healing would then recursively delete. A crash
  * before the rename leaves only the tmp file, which [[heal]] discards
  * unread — the interrupted writer's retry rediscovers its vacated set
  * from its own probe.
  */
private[graft] object DeleteJournal {

  /** Write `body` to `markerName` under `root` via temp-then-rename,
    * throwing when the FS refuses the rename (Hadoop reports failure
    * by RETURNING false, not throwing).
    *
    * NOT safe for REPLACING a marker whose old content is still
    * load-bearing: when the destination exists it is deleted first,
    * and a crash between the delete and the rename leaves NO marker.
    * (`FileContext`'s `Options.Rename.OVERWRITE` does not help —
    * `AbstractFileSystem`'s default `renameInternal(…, overwrite)` is
    * itself delete-then-rename, and the local/posix implementations
    * don't override it; only HDFS renames over atomically. It also
    * demands an `fs.AbstractFileSystem.<scheme>.impl` binding plain
    * `FileSystem` stores don't need.) Callers for whom that window
    * matters must write each generation to a FRESH name instead
    * (`SeriesMart.journalTouchedKeys` does); the two callers that do
    * replace accept it — the pending-deletes journal is always healed
    * (absent) before a write, and a mart meta lost to the window just
    * forces the self-healing full rebuild.
    */
  def writeMarkerAtomic(fs: FileSystem, root: Path, markerName: String,
      body: String): Unit = {
    val marker = new Path(root, markerName)
    val tmp = new Path(root, markerName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false)
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(
        s"atomic marker rename failed: $tmp -> $marker")
  }

  /** The `key=value` lines of a marker [[writeMarkerAtomic]] wrote
    * (lines without `=` are skipped); empty when the marker is absent.
    */
  def readMarker(fs: FileSystem, root: Path,
      markerName: String): Map[String, String] = {
    val marker = new Path(root, markerName)
    if (!fs.exists(marker)) return Map.empty
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }).toMap
    finally in.close()
  }

  /** Journal `rels` (paths relative to `root`) atomically, delete them,
    * then clear the journal. No-op for an empty list.
    */
  def journalThenDelete(fs: FileSystem, root: Path, markerName: String,
      rels: Seq[String]): Unit = {
    if (rels.isEmpty) return
    writeMarkerAtomic(fs, root, markerName, rels.mkString("\n"))
    rels.foreach(deleteDir(fs, root, _))
    fs.delete(new Path(root, markerName), false)
  }

  /** Finish a crashed writer's journaled deletes (no-op when none). */
  def heal(fs: FileSystem, root: Path, markerName: String): Unit = {
    val tmp = new Path(root, markerName + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, false)
    val marker = new Path(root, markerName)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val rels =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      rels.foreach(deleteDir(fs, root, _))
      fs.delete(marker, false)
    }
  }

  private def deleteDir(fs: FileSystem, root: Path, rel: String): Unit = {
    val dir = new Path(root, rel)
    if (fs.exists(dir)) fs.delete(dir, true)
    // Prune emptied intermediate levels all the way up to (never
    // including) the root: hive `접수년=Y/접수월=M` leaves an empty
    // year dir when its last month goes, and the three-level bucketed
    // hub (`접수년/접수월/_key_bucket`) leaves an empty month AND year
    // when a bucket delete drains them.
    var parent = dir.getParent
    while (parent != null && parent != root && fs.exists(parent) &&
        fs.listStatus(parent).isEmpty) {
      fs.delete(parent, false)
      parent = parent.getParent
    }
  }
}
