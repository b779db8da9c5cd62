package graft.fhir

import java.io.ByteArrayOutputStream

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.{UDF1 => JUdf1}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.fhir.FhirSchemas._

/** Avro backend of the schema compiler — the reference's `bunsen-avro`
  * surface (DefinitionToAvroVisitor.java:41-722, AvroConverter.java:24-206),
  * which there is a second client of the same visitor. Here it is a leaf
  * mapping over the one definition walk, [[FhirSchemas.walk]]: type
  * resolution, choice flattening, hoisted-extension unwrapping and the
  * recursion budget are the walk's, so the Avro record and the Spark
  * `StructType` of a definition have the same fields in the same order.
  * Rows convert to/from Avro both as a binary column (exchange payloads)
  * and as Avro container files (export/import).
  *
  * Leaf mapping (mirroring the reference's visitor):
  *  - every field is a nullable union `["null", T]` with null default;
  *  - FHIR decimal → Avro `bytes` with the `decimal(12,4)` logical type;
  *  - dates/instants stay lexical strings (like the Spark backend);
  *  - references are records of (reference, display) plus one synthetic
  *    `<type>Id` per target, as in the Spark schema;
  *  - nested records are named by their path (`Observation_code`), which
  *    keeps Avro's unique-fullname rule satisfied without a global registry
  *    (the reference hashes structure definitions for the same reason).
  *
  * Scale note: the converters are plain value mappers run per row inside
  * `mapPartitions`/UDF — no driver materialization; the container-file sink
  * writes one file per partition. Avro `Schema` is not serializable, so
  * executor-side state rebuilds from the schema JSON lazily.
  */
object FhirAvro {

  private val Namespace = "graft.fhir.avro"

  /** Compile a named resource/complex type to an Avro record schema. */
  def avroSchemaFor(name: String,
      reg: FRegistry = defaultRegistry): Schema =
    record(name.replace('.', '_'), rootWalk(name, reg), reg)

  /** Canonical 64-bit schema fingerprint (Avro `SchemaNormalization`
    * parsing form). Record fullnames are deterministic path-derived
    * strings, so the fingerprint is a pure function of the definition
    * IR — two sessions (or two machines) compiling the same definitions
    * always agree. This is the stability contract the reference pins via
    * specific-record compilation equality
    * (bunsen-avro/.../AvroConverterTest.testCompile,
    * AvroConverter.java:24-206); we pin the schema identity itself, which
    * is what wire compatibility actually depends on. */
  def schemaFingerprint64(name: String,
      reg: FRegistry = defaultRegistry): Long =
    org.apache.avro.SchemaNormalization
      .parsingFingerprint64(avroSchemaFor(name, reg))

  private def nullable(s: Schema): Schema =
    Schema.createUnion(java.util.List.of(
      Schema.create(Schema.Type.NULL), s))

  private def decimalSchema: Schema =
    LogicalTypes.decimal(12, 4).addToSchema(Schema.create(Schema.Type.BYTES))

  private def field(name: String, s: Schema): Schema.Field =
    new Schema.Field(name, nullable(s), null,
      Schema.Field.NULL_DEFAULT_VALUE)

  /** One record over a walked definition; nested records and reference
    * records are named by their path under `recName`. */
  private def record(recName: String, steps: Seq[Step],
      reg: FRegistry): Schema = {
    val rec = Schema.createRecord(recName, null, Namespace, false)
    rec.setFields(steps.map { s =>
      val f = s.field
      val t = (f.tpe: @unchecked) match {
        case FString | FCode | FDate => Schema.create(Schema.Type.STRING)
        case FDecimal => decimalSchema
        case FInt => Schema.create(Schema.Type.INT)
        case FBool => Schema.create(Schema.Type.BOOLEAN)
        case FReference(targets) =>
          val ref = Schema.createRecord(s"${recName}_${f.name}_Reference",
            null, Namespace, false)
          ref.setFields((Seq("reference", "display") ++
            targets.map(t => lowerFirst(t) + "Id"))
            .map(n => field(n, Schema.create(Schema.Type.STRING))).asJava)
          ref
        case FComplex(n) =>
          record(s"${recName}_${f.name}", walk(n, s.stack, reg), reg)
      }
      field(f.name, if (f.multi) Schema.createArray(nullable(t)) else t)
    }.asJava)
    rec
  }

  // ---- value conversion ---------------------------------------------------

  private def unwrapNullable(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private val decimalConversion = new org.apache.avro.Conversions.DecimalConversion

  /** Spark external value → Avro value, walking (DataType, Schema). */
  private def toAvro(v: Any, dt: DataType, s0: Schema): Any = {
    if (v == null) return null
    val s = unwrapNullable(s0)
    dt match {
      case StringType => v.toString
      case IntegerType | BooleanType => v
      case _: DecimalType =>
        decimalConversion.toBytes(
          v.asInstanceOf[java.math.BigDecimal].setScale(4),
          s, s.getLogicalType)
      case ArrayType(et, _) =>
        val out = new java.util.ArrayList[Any]()
        v.asInstanceOf[scala.collection.Seq[Any]].foreach(e =>
          out.add(toAvro(e, et, s.getElementType)))
        out
      case st: StructType =>
        val rec = new GenericData.Record(s)
        st.fields.zipWithIndex.foreach { case (f, i) =>
          rec.put(f.name,
            toAvro(v.asInstanceOf[Row].get(i), f.dataType,
              s.getField(f.name).schema()))
        }
        rec
      case other =>
        throw new IllegalArgumentException(s"Unsupported Spark type $other")
    }
  }

  /** Avro value → Spark external value. */
  private def fromAvro(v: Any, dt: DataType, s0: Schema): Any = {
    if (v == null) return null
    val s = unwrapNullable(s0)
    dt match {
      case StringType => v.toString
      case IntegerType | BooleanType => v
      case d: DecimalType =>
        decimalConversion.fromBytes(
          v.asInstanceOf[java.nio.ByteBuffer], s, s.getLogicalType)
      case ArrayType(et, _) =>
        v.asInstanceOf[java.util.List[Any]].asScala.toSeq
          .map(e => fromAvro(e, et, s.getElementType))
      case st: StructType =>
        val rec = v.asInstanceOf[GenericRecord]
        // carry the schema so callers can address decoded fields by name
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          st.fields.map(f =>
            fromAvro(rec.get(f.name), f.dataType,
              s.getField(f.name).schema())).toArray, st)
      case other =>
        throw new IllegalArgumentException(s"Unsupported Spark type $other")
    }
  }

  /** Serializable row ⇄ Avro-binary codec for one (StructType, Schema)
    * pair; the Avro schema travels as JSON (Schema is not serializable). */
  final class RowAvroCodec(sparkSchema: StructType, avroJson: String)
      extends Serializable {
    @transient private lazy val schema =
      new Schema.Parser().parse(avroJson)
    @transient private lazy val writer =
      new GenericDatumWriter[GenericRecord](schema)
    @transient private lazy val reader =
      new GenericDatumReader[GenericRecord](schema)

    def toRecord(r: Row): GenericRecord =
      toAvro(r, sparkSchema, schema).asInstanceOf[GenericRecord]

    def toRow(rec: GenericRecord): Row =
      fromAvro(rec, sparkSchema, schema).asInstanceOf[Row]

    def encode(r: Row): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      writer.write(toRecord(r), enc)
      enc.flush()
      out.toByteArray
    }

    def decode(bytes: Array[Byte]): Row =
      toRow(reader.read(null,
        DecoderFactory.get().binaryDecoder(bytes, null)))
  }

  /** Row <-> Avro GenericRecord codec pair for one resource type. */
  def codecFor(name: String,
      reg: FRegistry = defaultRegistry): RowAvroCodec =
    new RowAvroCodec(schemaFor(name, reg),
      avroSchemaFor(name, reg).toString)

  /** Replace a struct column with its Avro binary encoding (the exchange
    * payload shape — what `to_avro` produces with the connector). */
  def encodeColumn(df: DataFrame, colName: String, resourceName: String,
      reg: FRegistry = defaultRegistry): DataFrame = {
    val codec = codecFor(resourceName, reg)
    val f = udf(new JUdf1[Row, Array[Byte]] {
      override def call(r: Row): Array[Byte] =
        if (r == null) null else codec.encode(r)
    }, BinaryType)
    df.withColumn(colName, f(col(colName)))
  }

  /** Inverse of [[encodeColumn]]: binary column → typed struct column. */
  def decodeColumn(df: DataFrame, colName: String, resourceName: String,
      reg: FRegistry = defaultRegistry): DataFrame = {
    val codec = codecFor(resourceName, reg)
    val sparkSchema = schemaFor(resourceName, reg)
    val f = udf(new JUdf1[Array[Byte], Row] {
      override def call(b: Array[Byte]): Row =
        if (b == null) null else codec.decode(b)
    }, sparkSchema)
    df.withColumn(colName, f(col(colName)))
  }

  /** Write a resource DataFrame in the FLATTENED `extractEntry` shape (top-
    * level columns == the compiled schema's fields; `df.select("r.*")` for a
    * struct column) as Avro container files, one file per partition.
    * Executor-side, no driver materialization. */
  def writeAvroFiles(df: DataFrame, resourceName: String, path: String,
      reg: FRegistry = defaultRegistry): Unit = {
    val codec = codecFor(resourceName, reg)
    val avroJson = avroSchemaFor(resourceName, reg).toString
    new java.io.File(path).mkdirs()
    df.rdd.mapPartitionsWithIndex { (i, rows) =>
      val schema = new Schema.Parser().parse(avroJson)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new java.io.File(path, f"part-$i%05d.avro"))
      var n = 0L
      rows.foreach { r => w.append(codec.toRecord(r)); n += 1 }
      w.close()
      Iterator.single(n)
    }.count(): Unit
  }

  /** Read Avro container files written by [[writeAvroFiles]] back into a
    * DataFrame with the compiled Spark schema. */
  def readAvroFiles(spark: SparkSession, resourceName: String, path: String,
      reg: FRegistry = defaultRegistry): DataFrame = {
    val codec = codecFor(resourceName, reg)
    val sparkSchema = schemaFor(resourceName, reg)
    val files = new java.io.File(path).listFiles((_, n) => n.endsWith(".avro"))
      .map(_.getAbsolutePath).sorted.toSeq
    val rows = spark.sparkContext.parallelize(files, math.max(files.size, 1))
      .flatMap { f =>
        val r = new org.apache.avro.file.DataFileReader[GenericRecord](
          new java.io.File(f), new GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (r.hasNext) out += codec.toRow(r.next())
        r.close()
        out
      }
    spark.createDataFrame(rows, sparkSchema)
  }
}
