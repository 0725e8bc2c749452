package graft.sources

import java.io.ByteArrayInputStream

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileStream, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Avro container-file source (SURVEY §2A R7/R8). The Spark distribution
  * here ships core avro jars but not the spark-avro connector, so this
  * is a self-contained reader: Avro writer schema → Spark schema, and a
  * distributed decode path.
  *
  * Scale shape: `readDistributed` lists files as binary blobs
  * (`binaryFile` source — one task per file, executors decode in
  * parallel with `flatMap`), which scales to arbitrarily many container
  * files; `read` is the convenience single-file driver-side variant for
  * small inputs (the reference's own use case is a 283-byte file).
  */
object AvroIO {

  /** Avro → Spark type mapping (nullable via union-with-null; enum/fixed
    * → string/binary; logical date → DateType). */
  def toSparkType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.NULL    => (NullType, true)
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT =>
      val lt = s.getLogicalType
      if (lt != null && lt.getName == "date") (DateType, false) else (IntegerType, false)
    case Schema.Type.LONG    => (LongType, false)
    case Schema.Type.FLOAT   => (FloatType, false)
    case Schema.Type.DOUBLE  => (DoubleType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED => (BinaryType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.ARRAY =>
      val (et, en) = toSparkType(s.getElementType)
      (ArrayType(et, en), false)
    case Schema.Type.MAP =>
      val (vt, vn) = toSparkType(s.getValueType)
      (MapType(StringType, vt, vn), false)
    case Schema.Type.RECORD =>
      (StructType(s.getFields.asScala.toSeq.map { f =>
        val (t, n) = toSparkType(f.schema)
        StructField(f.name, t, n)
      }), false)
    case Schema.Type.UNION =>
      val nonNull = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      if (nonNull.size == 1) { val (t, _) = toSparkType(nonNull.head); (t, true) }
      else (StringType, true) // heterogeneous unions stringified (R23-style catch-all)
  }

  def toSparkSchema(s: Schema): StructType =
    toSparkType(s)._1.asInstanceOf[StructType]

  private def convert(v: Any, avro: Schema): Any = {
    val schema = avro.getType match {
      case Schema.Type.UNION =>
        val nonNull = avro.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
        if (nonNull.size == 1) nonNull.head else avro
      case _ => avro
    }
    if (v == null) return null
    schema.getType match {
      case Schema.Type.RECORD =>
        val r = v.asInstanceOf[GenericRecord]
        Row.fromSeq(schema.getFields.asScala.toSeq.map(f => convert(r.get(f.pos), f.schema)))
      case Schema.Type.ARRAY =>
        v.asInstanceOf[java.util.Collection[Any]].asScala.toSeq
          .map(e => convert(e, schema.getElementType))
      case Schema.Type.MAP =>
        v.asInstanceOf[java.util.Map[Any, Any]].asScala.map {
          case (k, vv) => k.toString -> convert(vv, schema.getValueType)
        }.toMap
      case Schema.Type.STRING | Schema.Type.ENUM => v.toString
      case Schema.Type.BYTES => v.asInstanceOf[java.nio.ByteBuffer].array().clone()
      case Schema.Type.FIXED => v.asInstanceOf[org.apache.avro.generic.GenericFixed].bytes().clone()
      case Schema.Type.INT if schema.getLogicalType != null &&
        schema.getLogicalType.getName == "date" =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case Schema.Type.UNION => v.toString // heterogeneous union catch-all
      case _ => v
    }
  }

  /** Decode one container file's bytes into Rows (runs on executors).
    * Decodes eagerly — the file is already fully in memory, and an eager
    * loop closes the reader even when the downstream consumer stops
    * early (limit/take/task failure), where a lazy close-on-drain
    * iterator would leak it and risk next() on a closed reader. */
  def decodeBytes(bytes: Array[Byte], schemaJson: String): Iterator[Row] = {
    val schema = new Schema.Parser().parse(schemaJson)
    val reader = new DataFileStream[GenericRecord](
      new ByteArrayInputStream(bytes), new GenericDatumReader[GenericRecord](schema))
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
      while (reader.hasNext) buf += convert(reader.next(), schema).asInstanceOf[Row]
      buf.iterator
    } finally reader.close()
  }

  /** Writer schema from a container file header. */
  def writerSchema(path: String): Schema = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes), new GenericDatumReader[GenericRecord]())
    try r.getSchema finally r.close()
  }

  /** Driver-side single-file read (reference R7 scale). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = writerSchema(path)
    val sparkSchema = toSparkSchema(schema)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val rows = decodeBytes(bytes, schema.toString).toSeq
    spark.createDataFrame(rows.asJava, sparkSchema)
  }

  /** Distributed read over many container files: one task per file via
    * the binaryFile source, decode with flatMap on executors. The read
    * schema is the writer schema in the header of the first file the
    * glob matches, in path order (hidden `_`/`.` names skipped, as the
    * scan skips them), read on the driver through the Hadoop FileSystem
    * (`globStatus`, then a stream over `fs.open`), so s3a:// and hdfs://
    * paths work like local ones and no Spark job runs before the action.
    * Files written with a DIFFERENT schema are decoded through Avro's
    * resolution against it and fail loudly on incompatibility rather
    * than silently drifting. */
  def readDistributed(spark: SparkSession, globPath: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val glob = new Path(globPath)
    val fs = glob.getFileSystem(spark.sessionState.newHadoopConf())
    val first = Option(fs.globStatus(glob)).toSeq.flatten
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.toString).headOption
      .getOrElse(throw new IllegalArgumentException(s"no files match $globPath"))
    val in = new DataFileStream[GenericRecord](fs.open(first), new GenericDatumReader[GenericRecord]())
    val schemaJson = try in.getSchema.toString finally in.close()
    val sparkSchema = toSparkSchema(new Schema.Parser().parse(schemaJson))
    val rowRdd = spark.read.format("binaryFile").load(globPath).select(col("content")).rdd
      .flatMap(r => decodeBytes(r.getAs[Array[Byte]](0), schemaJson))
    spark.createDataFrame(rowRdd, sparkSchema)
  }
}
