package graft.ops

import org.apache.spark.sql.SparkSession

/** The `_layout` marker discipline shared by every persisted artifact
  * and store that pins its layout (Classifier model, PQ model, BPE
  * vocab, bigram LM, term index, IncrementalDedup store — one
  * implementation):
  *
  *  - `invalidate` runs FIRST in a save, deleting any existing marker:
  *    a crashed RE-save must never leave the previous, still-valid
  *    marker pointing at half-overwritten data files (a fresh save's
  *    crash window was already safe — no marker, no load — but an
  *    overwrite's was not).
  *  - `writeLayout` runs LAST, committing a version line plus
  *    `key=value` lines through a tmp file and a checked rename, so a
  *    crash mid-write never leaves a torn marker. Until it lands,
  *    `readLayout` fails fast.
  *  - `readLayout` validates presence and the version line, then
  *    returns the key→value map; callers validate their own
  *    counts/shapes against the data files (torn-artifact checks).
  *
  * Single writer assumed, like every graft store.
  */
object Artifacts {

  private def markerPath(path: String) = new org.apache.hadoop.fs.Path(s"$path/_layout")

  /** Delete any existing marker — call before overwriting data files. */
  def invalidate(s: SparkSession, path: String): Unit = {
    val p = markerPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** Whether a marker is committed at `path`. */
  def hasLayout(s: SparkSession, path: String): Boolean = {
    val p = markerPath(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Commit the marker (version line + key=value lines). Write LAST. */
  def writeLayout(s: SparkSession, path: String, version: String,
      kvs: Seq[(String, String)]): Unit = {
    val p = markerPath(path)
    val tmp = p.suffix(".tmp")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(
      (version +: kvs.map { case (k, v) => s"$k=$v" }).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    finally out.close()
    // rename() reports failure as a boolean on many FileSystems
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"rename $tmp -> $p failed; marker not committed")
  }

  /** Read + validate the marker; `what` names the artifact in errors. */
  def readLayout(s: SparkSession, path: String, version: String,
      what: String): Map[String, String] = {
    val p = markerPath(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $what artifact at $path (missing _layout marker)")
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.linesIterator.toSeq
    require(lines.headOption.contains(version),
      s"$what artifact at $path has layout ${lines.headOption.getOrElse("<empty>")}, " +
        s"expected $version")
    lines.drop(1).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
  }

  /** `readLayout` + a required key, with a uniform missing-key error. */
  def layoutValue(layout: Map[String, String], key: String, path: String,
      what: String): String =
    layout.getOrElse(key, sys.error(s"$what artifact at $path lacks a $key line"))
}
