package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ddl.{FieldSchema, TableSchema}
import graft.functions.Wkb
import graft.types.MySqlType
import graft.types.MySqlType._

/** Value-level conversions from "wire" rows (what a binlog/JDBC source
  * emits: signed ints, enum indexes, set bitmasks, raw strings) to the
  * engine's Spark-typed rows. This is the heart of parity with the
  * reference's `convert_record` (converter.py:575-671) — but expressed as
  * Catalyst Column expressions, so every rule is codegen'd and runs
  * vectorized inside WholeStageCodegen rather than a per-row interpreter
  * loop. X-numbers reference SURVEY.md §2.8.
  */
object RecordConversion {

  /** X1 — MySQL unsigned columns arrive sign-reinterpreted from the wire;
    * add 2^(8·bytes) to negatives (converter.py:632-641). */
  def unsignedFixup(c: Column, bytes: Int): Column = {
    if (bytes == 8) {
      // UInt64: must go through decimal, 2^64 exceeds long
      val k = lit(new java.math.BigDecimal("18446744073709551616"))
      when(c < 0, c.cast(DecimalType(20, 0)) + k).otherwise(c.cast(DecimalType(20, 0)))
    } else {
      val k = lit(1L << (8 * bytes))
      when(c < 0, c + k).otherwise(c)
    }
  }

  /** X2 — NULL → type default for non-nullable targets
    * (converter.py:664-668, defaults table 1039-1096). */
  def defaultLiteral(t: MySqlType): Column = t match {
    case MInt(_, _) | MYear | MBit(_) => lit(0)
    case MBool => lit(false)
    case MDecimal(_, s) => lit(0).cast(DecimalType(38, s))
    case MDecimalBare | MDouble => lit(0.0)
    case MFloat => lit(0.0f)
    case MDate => to_date(lit("1970-01-01"))
    case MDateTime(_) => lit("1970-01-01 00:00:00").cast(TimestampNTZType)
    case MTimestamp(_) => lit("1970-01-01 00:00:00").cast(TimestampType)
    case MTime => lit("00:00:00")
    case MString(_) | MJson | MUuid => lit("")
    case MBinary(Some(n)) => lit(new Array[Byte](n)) // NUL-padded to n
    case MBinary(None) => lit(Array.emptyByteArray)
    case MEnum(vs) => lit(vs.headOption.getOrElse("")) // first enum value
    case MSet(_) => lit("")
    case MPoint => struct(lit(0.0f).as("x"), lit(0.0f).as("y"))
    case MPolygon => array().cast(ArrayType(pointStruct, containsNull = false))
    case MMultiPolygon =>
      array().cast(ArrayType(ArrayType(pointStruct, containsNull = false), containsNull = false))
  }

  /** X4 — enum wire value → label: 1-based index into the (lowercased)
    * value list; 0 = MySQL's "invalid empty" enum, mapped to '' ; string
    * wire values are lowercased and passed through
    * (enum/converter.py:28-66). The reference distinguishes int vs string
    * wire values by *type*; our spool wire is all-string, so a digit
    * string that is itself one of the labels (enum('1','2')) is treated
    * as the label, and only non-label digit strings as 1-based indexes
    * (ADVICE r1). Ambiguity remains only for numeric labels that collide
    * with valid indexes — there label wins, which matches what a SQL
    * client literally inserted. */
  def enumDecode(c: Column, values: Seq[String]): Column = {
    val labels = array(values.map(v => lit(v.toLowerCase)): _*)
    val asStr = lower(c.cast(StringType))
    when(c.isNull, lit(null).cast(StringType))
      .when(array_contains(labels, asStr), asStr)
      .when(c.cast(StringType).rlike("^[0-9]+$"),
        when(c.cast(IntegerType) === 0, lit(""))
          .otherwise(element_at(labels, c.cast(IntegerType))))
      .otherwise(asStr)
  }

  /** X5 — set wire value: bitmask → comma-joined labels in definition
    * order (converter.py:650-663). String values pass through lowercased. */
  def setDecode(c: Column, values: Seq[String]): Column = {
    require(values.size <= 64, "MySQL SET is limited to 64 members")
    // bit masks are plan-time literals (the value list comes from the
    // schema), so this folds to a null-skipping array_join — no UDF.
    val parts = values.zipWithIndex.map { case (v, i) =>
      when(c.cast(LongType).bitwiseAND(lit(1L << i)) =!= 0, lit(v.toLowerCase))
    }
    val decodedMask = array_join(array(parts: _*), ",")
    when(c.isNull, lit(null).cast(StringType))
      .when(c.cast(StringType).rlike("^[0-9]+$"), decodedMask)
      .otherwise(lower(c.cast(StringType)))
  }

  /** X9 — MySQL YEAR: clamp to [1901, 2155], 0 stays 0
    * (converter.py:613-623). */
  def yearClamp(c0: Column): Column = {
    val c = c0.cast(IntegerType)
    when(c.isNull || c === 0, c.cast(ShortType))
      .otherwise(greatest(least(c, lit(2155)), lit(1901)).cast(ShortType))
  }

  /** X11 — zero/invalid dates → epoch for non-nullable datetime targets
    * (clickhouse_api.py:310-331): anything before year 1 (or unparseable,
    * arriving as null) becomes 1970-01-01. */
  def sanitizeDatetime(c: Column, nullable: Boolean,
                       ntz: Boolean = false): Column = {
    val target: DataType = if (ntz) TimestampNTZType else TimestampType
    val epoch = lit("1970-01-01 00:00:00").cast(target)
    if (nullable) c
    else when(c.isNull || year(c) < 1, epoch).otherwise(c)
  }

  /** X12 — session-tz attachment for snapshot reads (mysql_api.py:144-154):
    * MySQL `timestamp` values read in `mysqlTimezone` normalize to UTC. */
  def timestampToUtc(c: Column, mysqlTimezone: String): Column =
    if (mysqlTimezone == "UTC") c
    else to_utc_timestamp(c, mysqlTimezone)

  /** X10 — canonical UUID text (converter.py:626-630). */
  def uuidCanonical(c: Column): Column = lower(trim(c))

  /** Convert a whole wire DataFrame to the schema's Spark types. Columns
    * absent from `df` (e.g. after ADD COLUMN, reading old files) are
    * filled with NULL / the type default. Extra columns (after DROP) are
    * projected away — the reference re-aligns positionally
    * (converter.py:560-573); we align by name. Columns named in `keep`
    * are carried through unconverted, after the schema's.
    */
  def convert(df: DataFrame, schema: TableSchema,
              mysqlTimezone: String = "UTC",
              keep: Seq[String] = Nil): DataFrame = {
    val wireTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.map { f =>
      field(wireTypes.get(f.name).map(col(f.name) -> _), f, schema,
        mysqlTimezone).as(f.name, MySqlType.metadata(f.tpe, f.sourceType))
    }
    df.select(cols ++ keep.map(col): _*)
  }

  /** The stored value of field `name` of `schema` from the wire column
    * `c` of type `wire`: the column [[convert]] writes for it, without
    * its metadata. */
  def convertField(c: Column, wire: DataType, schema: TableSchema,
                   name: String, mysqlTimezone: String = "UTC"): Column =
    field(Some(c -> wire), schema.fields.find(_.name == name).get, schema,
      mysqlTimezone)

  private def field(wire: Option[(Column, DataType)], f: FieldSchema,
                    schema: TableSchema, tz: String): Column = {
    val target = MySqlType.toSpark(f.tpe)
    val base = wire.fold(lit(null).cast(target)) { case (c, wt) =>
      convertColumn(c, wt, f.tpe, f.nullable, tz, schema.charset)
    }
    val withDefault =
      if (f.nullable) base
      else coalesce(base, defaultLiteral(f.tpe).cast(target))
    withDefault.cast(target)
  }

  /** X3 — charset decode: text bytes off the wire decode with the
    * column (else table) charset (converter.py:643-648; CHARSET map
    * 19-62). Only applies when the wire column is actually binary —
    * already-decoded strings pass through. */
  def charsetDecode(c: Column, colCharset: Option[String],
                    tableCharset: Option[String]): Column = {
    val cs = colCharset.orElse(tableCharset)
      .map(graft.types.Charsets.javaName).getOrElse("UTF-8")
    decode(c, cs)
  }

  /** binary(n): MySQL right-pads values with NUL bytes to exactly n
    * (tests/test_data_types.py:240-259 expects the padding preserved). */
  def binaryPad(c: Column, n: Int): Column =
    rpad(c.cast(BinaryType), n, Array[Byte](0))

  private def convertColumn(c: Column, wire: DataType, t: MySqlType,
                            nullable: Boolean, tz: String,
                            tableCharset: Option[String]): Column = t match {
    case MInt(b, true) => unsignedFixup(c, b)
    case MInt(_, false) => c
    case MEnum(vs) => enumDecode(c, vs)
    case MSet(vs) => setDecode(c, vs)
    case MYear => yearClamp(c)
    // try_cast: MySQL zero-dates ('0000-00-00 ...') are not ANSI
    // timestamps — they become NULL here and then epoch via the
    // non-nullable default path (clickhouse_api.py:310-331 behavior).
    case MDateTime(_) =>
      sanitizeDatetime(c.try_cast(TimestampNTZType), nullable, ntz = true)
    case MTimestamp(_) =>
      sanitizeDatetime(timestampToUtc(c.try_cast(TimestampType), tz), nullable)
    case MUuid => uuidCanonical(c)
    case MBit(1) | MBool => c.cast(BooleanType)
    case MTime => c.cast(StringType) // X8: stringified interval
    case MJson => c.cast(StringType) // X7: canonical text passthrough
    case MString(cs) if wire == BinaryType => charsetDecode(c, cs, tableCharset)
    case MBinary(Some(n)) => binaryPad(c, n)
    case MPoint => Wkb.decodePoint(toWkbBytes(c, wire))
    case MPolygon => Wkb.decodePolygon(toWkbBytes(c, wire))
    case MMultiPolygon => Wkb.decodeMultiPolygon(toWkbBytes(c, wire))
    case _ => c
  }

  /** WKB columns arrive as raw bytes, or as hex text from JSON spools
    * (JSON can't carry bytes; the spool hex-encodes them). */
  private def toWkbBytes(c: Column, wire: DataType): Column =
    if (wire == BinaryType) c else unhex(c)
}
