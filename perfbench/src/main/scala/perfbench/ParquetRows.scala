package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport

/** Plain parquet reading on the driver, without Spark: the generator reads
  * its source tables and the output checks read the sinks this way, so
  * neither adds Spark jobs to the run. Every value comes back as its
  * string form; a missing value is null. */
object ParquetRows {

  /** Column names and rows of a parquet file, or of every part file of a
    * parquet directory. */
  def read(path: String): (Seq[String], Seq[Array[String]]) = {
    val f = new File(path)
    val files =
      if (f.isDirectory) f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
      else Seq(path)
    val conf = new Configuration()
    var columns = Seq.empty[String]
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    files.foreach { file =>
      val reader = ParquetReader.builder(new GroupReadSupport(), new Path(file)).withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          val fields = g.getType.getFields.asScala
          columns = fields.map(_.getName).toSeq
          rows += fields.indices.map { i =>
            if (g.getFieldRepetitionCount(i) == 0) null else g.getValueToString(i, 0)
          }.toArray
          g = reader.read()
        }
      } finally reader.close()
    }
    (columns, rows.toSeq)
  }
}
