package graft.sources

import scala.jdk.CollectionConverters._
import scala.language.implicitConversions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** The key batch of a keyed [[FileManifest]] verb: long or string keys
  * held on the driver, or a frame whose key column the verb reads. The
  * conversions in the companion let a caller pass a `Seq[Long]`,
  * `Seq[String]` or `DataFrame` wherever a batch is expected; the verb
  * checks the batch's key type against the table's.
  */
sealed trait KeyBatch

/** A key batch held on the driver — the only kind a point lookup takes. */
sealed trait LiteralKeys extends KeyBatch {
  def values: Seq[Any]
  def dataType: DataType

  /** The keys as a local one-column frame named `name`. */
  def toFrame(spark: SparkSession, name: String): DataFrame =
    spark.createDataFrame(values.map(Row(_)).asJava,
      StructType(Seq(StructField(name, dataType))))
}

object KeyBatch {
  final case class Longs(keys: Seq[Long]) extends LiteralKeys {
    def values: Seq[Any] = keys
    def dataType: DataType = LongType
  }
  final case class Strings(keys: Seq[String]) extends LiteralKeys {
    def values: Seq[Any] = keys
    def dataType: DataType = StringType
  }
  final case class Frame(df: DataFrame) extends KeyBatch

  implicit def fromLongs(keys: Seq[Long]): Longs = Longs(keys)
  implicit def fromStrings(keys: Seq[String]): Strings = Strings(keys)
  implicit def fromFrame(df: DataFrame): Frame = Frame(df)
}
