package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Single owner for the SESSION-GLOBAL reliable-checkpoint directory
  * and the one lineage-cut policy that reads it.
  *
  * The rule: an operator that cuts a frame it does not release itself
  * calls [[cut]], which writes a reliable `checkpoint` into the
  * installed dir when the session has one and a `localCheckpoint`
  * otherwise. The installed dir is the only switch; no operator takes
  * a dir parameter or installs one. It is a deployment path, installed
  * ONCE at session start by the main (Bench) or harness that owns the
  * session.
  *
  * `SparkContext.setCheckpointDir` is shared mutable state: every
  * in-flight query's pending `checkpoint()` calls resolve the dir at
  * materialization time, so a mid-run change silently redirects
  * another query's checkpoint files. [[install]] keeps last-setter-wins
  * semantics but logs an actual FLIP of an already-installed dir, so an
  * accidental mid-run redirect surfaces in the driver log instead of as
  * scattered checkpoint files.
  */
object Checkpoints {

  /** Install `dir` as the session's checkpoint directory. */
  def install(sc: SparkContext, dir: String): Unit = synchronized {
    val prev = sc.getCheckpointDir
    // setCheckpointDir stores a qualified RANDOM CHILD of the given
    // dir, so "same dir?" = the stored child's parent path equals the
    // qualified new dir. (Raw substring containment would both miss
    // flips — '/tmp/a' is a substring of a child of '/tmp/ab' — and
    // fire spuriously on a differently-qualified but identical dir.)
    val p = new org.apache.hadoop.fs.Path(dir)
    val qualified = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p)
    val flipped = prev.exists { pv =>
      val parent = new org.apache.hadoop.fs.Path(pv).getParent
      parent == null || parent != qualified
    }
    if (flipped)
      System.err.println(s"[graft] WARNING: checkpoint dir flip ${prev.get} -> $dir " +
        "(shared session state; in-flight lazy checkpoints will follow the new dir)")
    sc.setCheckpointDir(dir)
  }

  /** Whether the session has a checkpoint dir installed, i.e. whether
    * [[cut]] writes reliable checkpoints. */
  def reliable(sc: SparkContext): Boolean = sc.getCheckpointDir.isDefined

  /** Cut `df`'s lineage: a reliable `checkpoint(eager)` into the
    * installed dir (executor-loss safe, nothing left in the block
    * manager) when the session has one, `localCheckpoint(eager)`
    * (executor-memory-and-disk blocks, reclaimed by the ContextCleaner)
    * otherwise. */
  def cut(df: DataFrame, eager: Boolean): DataFrame =
    if (reliable(df.sparkSession.sparkContext)) df.checkpoint(eager)
    else df.localCheckpoint(eager)
}
