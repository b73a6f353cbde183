package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one lifecycle of every corpus-derived directory graft keeps
  * between runs (registry fixtures and persisted indexes):
  * `$java.io.tmpdir/graft_<name>_<stamp>`, where the stamp digests
  * the input table's file listing, so a regenerated corpus gets a
  * new directory instead of a stale one.
  *
  * A miss builds into a private `graft_<name>_build_<id>` directory
  * and publishes it with one atomic rename: a reader sees the whole
  * build or nothing, and two processes racing on the same stamp each
  * build privately while the rename loser serves the winner's copy
  * (same stamp ⇒ same inputs ⇒ the same deterministic build).
  *
  * Nothing another process may be using is deleted on sight: other
  * stamps' directories and `_build_` directories are collected only
  * once unused for [[MaxIdleMs]] (mtime; every valid hit touches its
  * directory). The only directory removed at once is an INVALID one
  * at this very stamp (an older layout), which would block the
  * rename; an invalid directory is never served. */
object Fixture {
  /** how long a directory of a fixture's name may go unused before a
    * caller of that name collects it */
  val MaxIdleMs: Long = 24L * 60 * 60 * 1000

  /** content stamp of `$d/<table>.parquet`: MD5 of its sorted
    * `name:length:mtime` listing — metadata only, no data read */
  def stamp(s: SparkSession, d: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$d/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val items = fs.listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(items.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** `graft_<name>_<stamp>`, built by `build` unless `valid` already
    * holds for it. `valid` must test for the NEWEST artifact the
    * build writes, or an older layout would be served. */
  def stamped(name: String, stamp: String, valid: File => Boolean)(
      build: File => Unit): String = {
    val tmp = new File(sys.props("java.io.tmpdir"))
    val dir = new File(tmp, s"graft_${name}_$stamp")
    if (valid(dir)) dir.setLastModified(System.currentTimeMillis())
    else {
      gc(tmp, name, dir.getName)
      val bld = new File(tmp,
        s"graft_${name}_build_${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        build(bld)
        if (!bld.renameTo(dir) && !valid(dir)) {
          FileUtils.deleteQuietly(dir)
          if (!bld.renameTo(dir) && !valid(dir))
            throw new java.io.IOException(s"fixture publish failed: $bld -> $dir")
        }
      } finally FileUtils.deleteQuietly(bld)
    }
    dir.getPath
  }

  /** every path in `rel` exists under `dir` */
  def has(dir: File, rel: String*): Boolean =
    rel.forall(r => new File(dir, r).exists)

  /** the entries of `dir/sub` whose names start with `prefix` */
  def count(dir: File, sub: String, prefix: String): Int =
    Option(new File(dir, sub).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith(prefix))

  /** drops `name`'s directories other than `keep` that have gone
    * unused past [[MaxIdleMs]] */
  private def gc(tmp: File, name: String, keep: String): Unit = {
    val cutoff = System.currentTimeMillis() - MaxIdleMs
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(s"graft_${name}_") &&
        f.getName != keep && f.lastModified < cutoff)
      .foreach(FileUtils.deleteQuietly)
  }
}
