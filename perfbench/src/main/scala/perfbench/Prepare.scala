package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** Builds the second data rung once per machine: a 10x copy of the sf0.1
  * corpus made by `graft.tools.MakeScaledCorpus.build`. It is written
  * beside its destination and renamed into place when complete, with its
  * build time and size in `_PREPARED.json`. Not part of any run's set-up.
  *
  * Usage: perfbench.Prepare <source dir> <dest dir> <copies> <work dir> */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(src, dest, copies, work) = args
    val tmp = new File(dest + ".building")
    val spark = Session.create(new File(work))
    val t0 = System.nanoTime()
    try graft.tools.MakeScaledCorpus.build(spark, src, tmp.getAbsolutePath, copies.toInt)
    finally spark.stop()
    val buildS = (System.nanoTime() - t0) / 1e9
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val data = files(tmp).filter(_.getName.endsWith(".parquet"))
    val bytes = data.map(_.length).sum
    Files.writeString(new File(tmp, "_PREPARED.json").toPath,
      s"""{"source": ${Json.str(src)}, "copies": $copies, "build_s": ${Json.num(buildS)}, "bytes": $bytes, "files": ${data.size}}""" + "\n",
      UTF_8)
    require(tmp.renameTo(new File(dest)), s"cannot move $tmp to $dest")
    println(f"[perfbench] built $dest: $copies copies, ${bytes / 1e6}%.1f MB in ${data.size} files, $buildS%.1f s")
  }
}
