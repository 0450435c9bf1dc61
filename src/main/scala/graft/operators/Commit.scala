package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The engine's one crash-safe commit: every rename that moves data into
  * place is in this file (SessionSiteSpec fails on a stray one). The model
  * is Delta Lake's log-then-apply commit (Armbrust et al., VLDB 2020),
  * design only.
  *
  * [[swapDirs]] is a redo-logged directory swap under `root`. The caller
  * first writes each target's complete replacement at `staged(target)`.
  * The swap then lands an intent marker by tmp+rename ([[Commit.writeMarker]]):
  * one `target=<name>` line per target, then one line per dir to remove.
  * Once the intent exists the swap is committed, and applying it is
  * idempotent: delete the removed dirs, except a target whose staging is
  * already gone (it has landed), then for each target whose staging still
  * exists delete the live dir and rename the staging into place, then drop
  * the staging root and the intent. [[recover]] re-applies a logged intent
  * after a crash at any step; with no intent the swap never began, so it
  * drops the staging and a half-written `.tmp` marker, and the live dirs
  * are the pre-swap state. Readers between the intent and the last rename
  * can miss a dir (under-return), never see one twice. Callers hold the
  * store's [[MaintenanceLease]] for the swap and its recovery.
  *
  * @param staged where a target's replacement is staged: `staging/<name>`
  *   for a partitioned rewrite ([[Commit.partitioned]]), or the staging
  *   dir itself when a swap has one target (the serving sink)
  */
final case class Commit(fs: FileSystem, root: Path, intent: Path,
                        staging: Path, staged: String => Path) {

  /** Land every `targets` staging at `root/<target>` and delete the
    * `removes` dirs, as one crash-safe unit. Each target must have a
    * complete staged dir; a target may also be listed in `removes` (the
    * sink absorbing a same-named generation).
    */
  def swapDirs(targets: Seq[String], removes: Seq[String]): Unit = {
    Commit.writeMarker(fs, intent,
      (targets.map("target=" + _) ++ removes).mkString("\n"))
    land(targets, removes)
  }

  /** Finish a logged swap or drop an unlogged one's debris.
    * @return true if a logged swap was finished (the live dirs changed)
    */
  def recover(): Boolean = {
    fs.delete(intent.suffix(".tmp"), false)
    if (fs.exists(intent)) {
      val in = fs.open(intent)
      val lines = new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      in.close()
      val (targets, removes) = lines.partition(_.startsWith("target="))
      System.err.println(s"[graft] completing the logged commit $intent")
      land(targets.map(_.stripPrefix("target=")), removes)
      true
    } else {
      fs.delete(staging, true)
      false
    }
  }

  private def land(targets: Seq[String], removes: Seq[String]): Unit = {
    // a target's staging is consumed only by its rename, so a gone
    // staging means that target already holds the swap's result
    val landed = targets.filterNot(t => fs.exists(staged(t))).toSet
    removes.filterNot(landed).foreach(d => fs.delete(new Path(root, d), true))
    targets.filterNot(landed).foreach { t =>
      val live = new Path(root, t)
      fs.delete(live, true)
      if (!fs.rename(staged(t), live))
        sys.error(s"commit rename failed for $live")
    }
    fs.delete(staging, true)
    fs.delete(intent, false)
  }
}

object Commit {

  /** A store of partition dirs `root/<col>=<v>`, staged under the sibling
    * `<root>_staging` and logged in `<root>_intent`.
    */
  def partitioned(fs: FileSystem, root: Path): Commit = {
    val staging = root.suffix("_staging")
    Commit(fs, root, root.suffix("_intent"), staging, new Path(staging, _))
  }

  /** Write `body` to `path` all-or-nothing: a `.tmp` sibling renamed into
    * place, so a reader never sees a partial marker.
    */
  def writeMarker(fs: FileSystem, path: Path, body: String): Unit = {
    val tmp = path.suffix(".tmp")
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8"))
    out.close()
    if (!fs.rename(tmp, path)) sys.error(s"marker rename failed for $path")
  }

  /** A managed table's directory under the session's warehouse. */
  def warehousePath(spark: SparkSession, name: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)

  /** Drop a managed table AND its warehouse directory: the catalog is
    * in-memory per JVM, so a previous run's table directory survives as an
    * orphan that saveAsTable(overwrite) refuses to reuse.
    */
  def dropManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val path = warehousePath(spark, name)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** Replace managed table `target` with `source`: rename `target` to
    * `target_old`, `source` to `target`, then drop `target_old`. A failure
    * at either rename leaves `target` present (a failed second rename
    * renames the old table back), so a missing `source` never costs the
    * live table. A managed-table rename moves its directory and keeps its
    * bucket spec.
    */
  def swapTable(spark: SparkSession, source: String, target: String): Unit = {
    val old = s"${target}_old"
    dropManagedTable(spark, old)
    spark.sql(s"ALTER TABLE $target RENAME TO $old")
    try spark.sql(s"ALTER TABLE $source RENAME TO $target")
    catch {
      case e: Exception =>
        spark.sql(s"ALTER TABLE $old RENAME TO $target")
        throw e
    }
    dropManagedTable(spark, old)
  }
}
