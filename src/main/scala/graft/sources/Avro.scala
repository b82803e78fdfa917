package graft.sources

import graft.spec.ComponentSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file extractor. The Spark distribution on the
  * classpath ships avro-core but not the `spark-avro` DataSource
  * module, so `spark.read.format("avro")` is unavailable — this
  * extractor reads Object Container Files (the Kafka-archive / data-
  * lake interchange format) with the stock `GenericDatumReader`, one
  * task per file (`binaryFile`; container blocks are internally
  * deflate/snappy-compressed, so files arrive small enough to hold).
  *
  * Type mapping (top-level record fields): boolean/int/long/float/
  * double/string/bytes/fixed map to their Spark primitives (int →
  * long, float → double — widened so unions of numeric sizes stay one
  * column type); enum → string; nullable unions (`["null", T]`) map to
  * nullable T; any other shape (nested record, array, map, multi-type
  * union) surfaces as its JSON rendering in a string column — drill
  * with `from_json`/SQL downstream. The writer schema is read from the
  * lexicographically first file's header at PLAN time (driver-side,
  * bounded — the CSV header-learning pattern); files with a different
  * field layout fail loud at read rather than silently reshaping.
  */
object Avro {
  import org.apache.avro.Schema
  import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

  /** (sparkType, isComplex): complex fields render as JSON strings. */
  private def mapType(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.BOOLEAN => (BooleanType, false)
    case Schema.Type.INT | Schema.Type.LONG => (LongType, false)
    case Schema.Type.FLOAT | Schema.Type.DOUBLE => (DoubleType, false)
    case Schema.Type.STRING | Schema.Type.ENUM => (StringType, false)
    case Schema.Type.BYTES | Schema.Type.FIXED => (BinaryType, false)
    case Schema.Type.NULL => (NullType, false)
    case Schema.Type.UNION =>
      val nonNull = scala.jdk.CollectionConverters
        .ListHasAsScala(s.getTypes).asScala.filter(_.getType != Schema.Type.NULL)
      if (nonNull.size == 1) mapType(nonNull.head)
      else (StringType, true)
    case _ => (StringType, true) // record / array / map → JSON string
  }

  private def convert(v: Any, complex: Boolean, dt: DataType): Any = v match {
    case null => null
    case _ if complex => // canonical JSON rendering for ANY avro value
      org.apache.avro.generic.GenericData.get().toString(v)
    case u: org.apache.avro.util.Utf8 => u.toString
    case s: java.lang.String => s
    case e: org.apache.avro.generic.GenericEnumSymbol[_] => e.toString
    case i: java.lang.Integer => i.longValue()
    case l: java.lang.Long => l
    case f: java.lang.Float => f.doubleValue()
    case d: java.lang.Double => d
    case b: java.lang.Boolean => b
    case bb: java.nio.ByteBuffer =>
      val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
    case fx: org.apache.avro.generic.GenericFixed => fx.bytes()
    case other => sys.error(
      s"avro: unsupported runtime value ${other.getClass.getName} for $dt")
  }

  /** Parse every record of one container file. */
  def parseFile(bytes: Array[Byte]): (Schema, Iterator[GenericRecord]) = {
    val reader = new org.apache.avro.file.DataFileStream[GenericRecord](
      new java.io.ByteArrayInputStream(bytes),
      new GenericDatumReader[GenericRecord]())
    (reader.getSchema, scala.jdk.CollectionConverters.IteratorHasAsScala(
      new java.util.Iterator[GenericRecord] {
        override def hasNext: Boolean = reader.hasNext
        override def next(): GenericRecord = reader.next()
      }).asScala)
  }

  /** Writer (the loader side): one Object Container File per partition
    * (deflate codec), written executor-side — the generation
    * parallelizes like the read. Column mapping mirrors [[read]]:
    * integers widen to long, floats to double, bool/string/binary map
    * directly, and every other type (timestamps, decimals, structs,
    * arrays, maps) exports as its string/JSON rendering — lossless for
    * interchange, re-parse downstream. All fields are nullable unions.
    * `mode` overwrite (default) | append, through the shared shard loop
    * ([[Container.writeShards]]): append runs tag their file names, so a
    * second run never truncates the first run's files. */
  def write(df: DataFrame, path: String, spec: ComponentSpec): Unit = {
    import org.apache.spark.sql.functions.{col => c, to_json}
    val spark = df.sparkSession
    val prepared = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => c(f.name).cast("long").as(f.name)
        case FloatType | DoubleType => c(f.name).cast("double").as(f.name)
        case BooleanType | StringType | BinaryType => c(f.name)
        case _: StructType | _: ArrayType | _: MapType => to_json(c(f.name)).as(f.name)
        case _ => c(f.name).cast("string").as(f.name)
      }
    }.toIndexedSeq: _*)
    val names = prepared.schema.fields.map(_.name)
    val kinds = prepared.schema.fields.map(_.dataType match {
      case LongType => 'l'; case DoubleType => 'd'; case BooleanType => 'b'
      case BinaryType => 'y'; case _ => 's'
    })
    val schemaJson = {
      var b = org.apache.avro.SchemaBuilder.record("row").fields()
      names.zip(kinds).foreach { case (n, k) =>
        val t = k match {
          case 'l' => "long"; case 'd' => "double"; case 'b' => "boolean"
          case 'y' => "bytes"; case _ => "string"
        }
        b = b.name(n).`type`().unionOf().nullType().and()
          .`type`(t).endUnion().nullDefault()
      }
      b.endRecord().toString
    }
    Container.writeShards("avro", prepared, path, spec, new Container.ShardFormat(".avro") {
      def open(file: java.io.OutputStream): Container.Shard = new Container.Shard {
        private val schema = new Schema.Parser().parse(schemaJson)
        private val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
          new org.apache.avro.generic.GenericDatumWriter[GenericRecord](schema))
        w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
        w.create(schema, file)
        def add(r: Row): Unit = {
          val rec = new org.apache.avro.generic.GenericData.Record(schema)
          var i = 0
          while (i < names.length) {
            val v: AnyRef =
              if (r.isNullAt(i)) null
              else kinds(i) match {
                case 'l' => java.lang.Long.valueOf(r.getLong(i))
                case 'd' => java.lang.Double.valueOf(r.getDouble(i))
                case 'b' => java.lang.Boolean.valueOf(r.getBoolean(i))
                case 'y' => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](i))
                case _ => r.getString(i)
              }
            rec.put(i, v)
            i += 1
          }
          w.append(rec)
        }
        def close(): Unit = w.close()
      }
    }, rolling = false)
  }

  def read(spark: SparkSession, path: String, spec: ComponentSpec): DataFrame = {
    // the writer schema lives in the first file's header: read it
    // without decoding blocks
    val avroSchema = Container.firstFile(spark, path) { (_, in) =>
      new org.apache.avro.file.DataFileStream[GenericRecord](
        in, new GenericDatumReader[GenericRecord]()).getSchema
    }.getOrElse(sys.error(s"avro: no files under $path"))
    require(avroSchema.getType == Schema.Type.RECORD,
      s"avro: top-level schema must be a record, got ${avroSchema.getType}")
    val fields = scala.jdk.CollectionConverters
      .ListHasAsScala(avroSchema.getFields).asScala.toArray
    val mapped = fields.map(f => mapType(f.schema()))
    val schema = StructType(fields.zip(mapped).map { case (f, (dt, _)) =>
      StructField(f.name,
        if (dt == NullType) StringType else dt, nullable = true)
    }.toSeq)
    val expectNames = fields.map(_.name).toSeq
    val files = Container.files(spark, path)
    val complexFlags = mapped.map(_._2)
    val dts = schema.fields.map(_.dataType)
    val rows = files.flatMap { case (p, bytes) =>
      val (fileSchema, it) = parseFile(bytes)
      val names = scala.jdk.CollectionConverters
        .ListHasAsScala(fileSchema.getFields).asScala.map(_.name).toSeq
      if (names != expectNames)
        sys.error(s"avro: $p has fields ${names.mkString(",")} but the plan " +
          s"schema (from the first file) is ${expectNames.mkString(",")}")
      it.map { rec =>
        Row.fromSeq(expectNames.indices.map(i =>
          convert(rec.get(i), complexFlags(i), dts(i))))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    rows.toDF()
  }
}
