package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small UTF-8 text files the engine keeps beside its data: the bucket
  * sidecar, the upsert lease and the orientdb `_schema.json` of the
  * loaders, and the model files of labelencode, kmeans and bpe. All go
  * through the session's Hadoop FS (`hadoopConfiguration`), so every
  * path a read accepts — a `file:` URI included — works alike. Writes
  * go in place (create with overwrite, parent dirs created): the lease
  * writes its body into the file it has just claimed, which a
  * temp-file rename would replace. */
object TextFiles {
  private def locate(spark: SparkSession, path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The file's text; None when it is absent. */
  def read(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = locate(spark, path)
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  def write(spark: SparkSession, path: String, text: String): Unit = {
    val (fs, p) = locate(spark, path)
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** The file's non-empty lines (split at `\n`, `\r\n` or `\r`); fails
    * "`what` file not found: `path`" when it is absent. */
  def lines(spark: SparkSession, path: String, what: String): Seq[String] = {
    val text = read(spark, path)
    require(text.isDefined, s"$what file not found: $path")
    text.get.split("\r\n|\n|\r").filter(_.nonEmpty).toSeq
  }
}
