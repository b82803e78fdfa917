package graft.sources

import graft.spec.ComponentSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

/** The file plumbing the container codecs share: one `(path, bytes)`
  * read, one plan-time peek at the first file, and one shard-writer
  * loop for the container loaders. */
object Container {

  /** Every file a read of `path` (file, directory or glob) sees, as
    * `(path, bytes)` rows: one task per file, Spark packing small files
    * by openCost. `glob` filters file names (`pathGlobFilter`). */
  def files(spark: SparkSession, path: String,
            glob: String = "*"): Dataset[(String, Array[Byte])] = {
    import spark.implicits._
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
  }

  /** Plan-time peek at the first file a read of `path` sees: `path`
    * itself when it is a file, else the lexicographically first file
    * directly under it whose name starts with neither `_` nor `.` (the
    * names Spark's file index skips). Through the session's Hadoop FS,
    * so any path the read accepts (a `file:` URI too) peeks alike.
    * None when there is no such file. */
  def firstFile[T](spark: SparkSession, path: String)(
      read: (HPath, java.io.InputStream) => T): Option[T] = {
    val first = try {
      val p = new HPath(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.getFileStatus(p).isDirectory) Some(fs -> p)
      else fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .sortBy(_.getName).headOption.map(fs -> _)
    } catch { case _: java.io.IOException => None }
    first.map { case (fs, f) =>
      val in = fs.open(f)
      try read(f, in) finally in.close()
    }
  }

  /** One open shard file of a container loader. */
  trait Shard {
    def add(r: Row): Unit
    def close(): Unit
  }

  /** A container loader's shard format, shipped to the executors.
    * `open` wraps the shard file's stream (and closes it on `close`);
    * `cost` is what a row adds toward `maxShardBytes`; `reserve` is the
    * shard's trailer and slack. */
  abstract class ShardFormat(val ext: String) extends Serializable {
    def open(out: java.io.OutputStream): Shard
    def cost(r: Row): Long = 0L
    def reserve: Long = 0L
  }

  /** The one shard-writer loop of the container loaders ([[Tar.write]],
    * [[Zip.write]], [[Avro.write]]), through the session's Hadoop FS:
    * its configuration ships to the executors, so a `file:` URI target
    * (or any scheme the session knows) writes where it reads. `mode`
    * overwrite (default) clears `path` as Spark's overwrite does (one
    * recursive delete, then mkdirs); append tags this run's file names
    * with a run-unique id, because names are deterministic per
    * partition and a second run would otherwise truncate the first
    * run's files; any other mode fails by name. Each partition writes
    * its own shard sequence, executor-side, each shard created with
    * overwrite, so a retried task rewrites its own files. With
    * `rolling`, a shard closes before a row when it holds any and the
    * row's `cost` plus the `reserve` would pass `maxShardBytes` (default
    * 1 GiB, at least 4096); without, one file per partition. */
  def writeShards(loader: String, rows: DataFrame, path: String,
                  spec: ComponentSpec, format: ShardFormat, rolling: Boolean): Unit = {
    val maxShard =
      if (!rolling) Long.MaxValue
      else spec.long("maxShardBytes").getOrElse(1024L * 1024 * 1024)
    require(maxShard >= 4096,
      s"$loader loader: maxShardBytes must be >= 4096, got $maxShard")
    val conf = new SerializableConfiguration(rows.sparkSession.sparkContext.hadoopConfiguration)
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf.value)
    val runTag = spec.strOr("mode", "overwrite") match {
      case "overwrite" => fs.delete(dir, true); ""
      case "append" => "-r" + java.util.UUID.randomUUID().toString.take(8)
      case other => sys.error(
        s"$loader loader: mode must be overwrite or append, got '$other'")
    }
    fs.mkdirs(dir)
    rows.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var n = 0
        var shard: Shard = null
        var written = 0L
        def open(): Unit = {
          val idx = if (rolling) f"-$n%03d" else ""
          val file = new HPath(dir, f"part-$pid%05d$idx$runTag${format.ext}")
          shard = format.open(file.getFileSystem(conf.value).create(file, true))
          written = 0L
        }
        open()
        try it.foreach { r =>
          val c = format.cost(r)
          if (written > 0 && written + c + format.reserve > maxShard) {
            shard.close(); shard = null; n += 1; open()
          }
          shard.add(r)
          written += c
        } finally if (shard != null) shard.close()
      }
    }
  }
}
