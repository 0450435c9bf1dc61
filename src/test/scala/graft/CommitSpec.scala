package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem, FilterFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Commit

/** Fault injection for [[Commit.swapDirs]]: the swap runs over a
  * filesystem that dies at its k-th mutating call, for every k up to the
  * step count of a full swap, and then [[Commit.recover]] runs over the
  * real one (itself first killed at each of its own steps). The store must
  * end up exactly in the pre-swap or the post-swap state: never a mix, a
  * lost dir or a duplicated one, and never with commit debris left. No
  * SparkSession: each dir holds one small text file.
  */
class CommitSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  /** The local fs, dead from mutating call `failAt` on (a crashed process
    * makes no later calls either). Counts the calls it let through.
    */
  private class CrashingFs(failAt: Int) extends FilterFileSystem(local) {
    var calls = 0
    private def step(): Unit = {
      calls += 1
      if (calls >= failAt)
        throw new java.io.IOException(s"injected crash at mutating call $calls")
    }
    override def create(f: Path, p: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      step()
      super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      step(); super.rename(src, dst)
    }
    override def delete(f: Path, recursive: Boolean): Boolean = {
      step(); super.delete(f, recursive)
    }
    override def mkdirs(f: Path, p: FsPermission): Boolean = {
      step(); super.mkdirs(f, p)
    }
  }

  /** One swap shape: the live dirs, the staged replacements, the swap. */
  private case class Shape(live: Map[String, String],
                           staged: Map[String, String],
                           removes: Seq[String],
                           commit: (FileSystem, Path) => Commit) {
    val pre: Map[String, String] = live
    val post: Map[String, String] = live -- removes ++ staged
  }

  private def writeDir(dir: Path, body: String): Unit = {
    Files.createDirectories(Paths.get(dir.toUri))
    Files.writeString(Paths.get(new Path(dir, "part.txt").toUri), body)
  }

  /** The store's data dirs and their contents; `_`/`.` names are not data. */
  private def contents(root: Path): Map[String, String] =
    local.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map { st =>
        val files = local.listStatus(st.getPath).map(_.getPath)
          .filterNot(p => p.getName.startsWith("."))
        assert(files.map(_.getName).toSeq == Seq("part.txt"),
          s"${st.getPath} holds ${files.mkString(", ")}")
        st.getPath.getName -> Files.readString(Paths.get(files.head.toUri))
      }.toMap

  /** Lay the shape out under a fresh dir, run the swap over a fs that dies
    * at mutating call `k` and a recovery that dies at call `j`, then
    * recover for real and check the store. Returns the swap's mutating
    * call count and whether the crashed recovery ran to its end.
    */
  private def crashAndRecover(shape: Shape, k: Int, j: Int): (Int, Boolean) = {
    val base = new Path(Files.createTempDirectory("graft_commit_spec").toUri)
    val root = new Path(base, "store")
    val real = shape.commit(local, root)
    shape.live.foreach { case (d, b) => writeDir(new Path(root, d), b) }
    shape.staged.foreach { case (d, b) => writeDir(real.staged(d), b) }
    val swapFs = new CrashingFs(k)
    val swapped =
      try {
        shape.commit(swapFs, root)
          .swapDirs(shape.staged.keys.toSeq.sorted, shape.removes)
        true
      } catch { case _: java.io.IOException => false }
    // once the intent has landed the swap is committed
    val committed = swapped || local.exists(real.intent)
    val recovered =
      try { shape.commit(new CrashingFs(j), root).recover(); true }
      catch { case _: java.io.IOException => false }
    real.recover()
    val state = contents(root)
    val at = s"swap crashed at call $k, recovery at call $j"
    assert(state == (if (committed) shape.post else shape.pre),
      s"$at: store holds $state\n pre  ${shape.pre}\n post ${shape.post}")
    Seq(real.intent, real.intent.suffix(".tmp"), real.staging).foreach(p =>
      assert(!local.exists(p), s"$at: $p left behind"))
    local.delete(base, true)
    (swapFs.calls, recovered)
  }

  /** Every crash point of the swap crossed with every crash point of its
    * recovery; the last k and j are past the final call, so they complete.
    */
  private def everyCrash(shape: Shape): Unit = {
    val (steps, _) = crashAndRecover(shape, Int.MaxValue, Int.MaxValue)
    assert(steps >= 4, s"a full swap made only $steps mutating calls")
    (1 to steps + 1).foreach { k =>
      Iterator.from(1).find(j => crashAndRecover(shape, k, j)._2)
    }
  }

  private val sinkCommit = (fs: FileSystem, root: Path) => {
    val staging = new Path(root, "_sink_staging")
    Commit(fs, root, new Path(root, "_sink_absorbed"), staging, _ => staging)
  }

  test("sink many-to-one swap whose target is in its own absorbed list") {
    everyCrash(Shape(
      live = Map("batch_id=0" -> "r0", "batch_id=1" -> "r1",
        "compacted_2" -> "g2", "batch_id=3" -> "r3"),
      staged = Map("compacted_2" -> "r0 r1 g2"),
      removes = Seq("batch_id=0", "batch_id=1", "compacted_2"),
      commit = sinkCommit))
  }

  test("vector list swap: several rewritten lists plus one emptied list") {
    everyCrash(Shape(
      live = Map("cent_id=0" -> "a0 a1", "cent_id=1" -> "b0",
        "cent_id=2" -> "c0 c1 c2", "cent_id=3" -> "d0"),
      staged = Map("cent_id=0" -> "a1", "cent_id=2" -> "c0 c2"),
      removes = Seq("cent_id=3"),
      commit = Commit.partitioned))
  }

  test("day-partition compaction swap") {
    everyCrash(Shape(
      live = Map("day=2024-01-01" -> "x y", "day=2024-01-02" -> "z",
        "day=2024-01-03" -> "u v w"),
      staged = Map("day=2024-01-01" -> "xy", "day=2024-01-03" -> "uvw"),
      removes = Nil,
      commit = Commit.partitioned))
  }
}
