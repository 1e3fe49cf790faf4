package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way the query registry reads a base table: `<dir>/<table>.parquet`,
  * a single file or a directory of part files (TestDataGen's sf1+ output).
  *
  * `spark.read.parquet` runs a Spark job to infer the schema on every
  * call: ~50 ms at sf0.01 on 4 cores, where a read with the schema given
  * takes ~4 ms and runs no job. So the schema is inferred at most once per
  * (session, path, stamp) and then given. The stamp is the file's length
  * and modification time, or a directory's data-file count, total length
  * and latest modification time, all from the file system's metadata. A
  * rewritten table misses the memo and is inferred again, so it is never
  * read with a stale schema, and nothing needs invalidating.
  *
  * This is the one memo under `src/main` besides [[graft.Artifact]]. It
  * holds metadata that every read re-validates by stamp, not a result.
  */
object Tables {
  private final case class Key(app: String, path: String, files: Int, bytes: Long, mtime: Long)

  private val schemas = TrieMap.empty[Key, StructType]

  def read(s: SparkSession, dir: String, table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val schema = schemas.getOrElseUpdate(key(s, path),
      if (table == "events") inferNanosAsLong(s, path) else s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** `events.ts` has shipped as TIMESTAMP(NANOS), whose schema Spark infers
    * only under this setting, as a long. A read given that schema needs
    * no setting, so it is set for the inference alone and then restored.
    */
  private def inferNanosAsLong(s: SparkSession, path: String): StructType = {
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = s.conf.getOption(conf)
    s.conf.set(conf, "true")
    try s.read.parquet(path).schema
    finally prior.fold(s.conf.unset(conf))(s.conf.set(conf, _))
  }

  private def key(s: SparkSession, path: String): Key = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val status = fs.getFileStatus(p)
    val app = s.sparkContext.applicationId
    if (!status.isDirectory) Key(app, path, 1, status.getLen, status.getModificationTime)
    else {
      // data files as Spark's file index sees them: not `_SUCCESS`, `.crc`
      val it = fs.listFiles(p, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .toSeq
      Key(app, path, files.size, files.map(_.getLen).sum,
        files.map(_.getModificationTime).maxOption.getOrElse(0L))
    }
  }
}
