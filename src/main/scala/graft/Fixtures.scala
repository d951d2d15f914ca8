package graft

/** Where the registered queries keep the files they derive from a corpus:
  * sink round-trips, format fixtures and stream inputs, checkpoints and
  * sinks. One temp dir per process, so two processes in one checkout
  * (a Verify beside a Bench) never overwrite each other's files. */
object Fixtures {

  /** `GraftSession.scratchDir`: under `java.io.tmpdir`, deleted on exit. */
  lazy val root: String = GraftSession.scratchDir("graft-fixtures-")

  /** The corpus dir `dir` as a path component (dots kept). */
  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** `root/<name>_<tag(dir)>`: the fixture `name` derived from the corpus in `dir`. */
  def path(name: String, dir: String): String = s"$root/${name}_${tag(dir)}"

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  /** [[path]], written by `build` on the first call per (name, dir) in this
    * process. For fixtures that are INPUT to the measured operator: a corpus
    * is immutable within a process, so bench iterations 2+ and repeated
    * Verify calls only read them. Not for a write that IS the operator. A
    * build that failed halfway is redone from an empty dir. */
  def once(name: String, dir: String)(build: String => Unit): String =
    built.getOrElseUpdate(s"$name|$dir", {
      val p = path(name, dir)
      GraftSession.deleteTree(new java.io.File(p))
      build(p)
      p
    })
}
