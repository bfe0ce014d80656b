package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.io.InputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** One stream's Hadoop configuration: the session's
  * (`sessionState.newHadoopConf()`), read once on the driver, broadcast
  * once to the stream's readers on first use, as Spark's own parquet
  * scan does, and destroyed when the stream stops. */
private[sources] final class StreamConf {
  lazy val hadoop: Configuration = SparkSession.active.sessionState.newHadoopConf()
  private var readers: Broadcast[SerializableConfiguration] = _

  def forReaders: Broadcast[SerializableConfiguration] = synchronized {
    if (readers == null)
      readers = SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoop))
    readers
  }

  def release(): Unit = synchronized {
    if (readers != null) { readers.destroy(); readers = null }
  }
}

/** Opens a parquet file as example `Group` records. The reader takes
  * its options from the file's own Hadoop configuration; parquet's
  * path-based builder would parse a fresh `Configuration` per file. */
private[sources] object GroupFiles {
  def open(file: InputFile): ParquetReader[Group] =
    new ParquetReader.Builder[Group](file) {
      override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
    }.build()
}
