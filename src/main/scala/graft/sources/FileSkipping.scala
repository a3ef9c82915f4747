package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** FILE-LEVEL DATA SKIPPING for the interop readers — the min/max
  * pruning every serious table format plans with: Delta adds carry a
  * `stats` JSON (numRecords/minValues/maxValues/nullCount), Iceberg
  * manifest entries carry `lower_bounds`/`upper_bounds`. At 100 TB the
  * difference is opening millions of parquet footers versus planning
  * exactly the overlapping files from metadata already on the driver.
  *
  * The evaluator is CONSERVATIVE by construction: it answers "may this
  * file contain a matching row?", and anything it cannot prove prunable
  * — an unsupported expression shape, a column without bounds, a type
  * it does not convert — keeps the file. Pruning is an optimization,
  * never a correctness gate; the pushed filters re-apply row-side.
  *
  * Bounds hold CATALYST-INTERNAL values of the column's type
  * (UTF8String for strings, epoch days for dates), compared with
  * Catalyst's own interpreted ordering, so the semantics match what the
  * row-side filter would do. Writers may truncate string bounds; both
  * formats require truncation to stay valid (lower rounded down, upper
  * rounded up), the same trust the reference implementations place.
  */
private[sources] object FileSkipping {

  /** One column's per-file statistics; any component may be unknown. */
  final case class ColBounds(min: Option[Any], max: Option[Any],
      nullCount: Option[Long] = None, numRecords: Option[Long] = None)


  /** Delta `add.stats` JSON → per-column bounds, keyed by the file
    * schema's (physical) field names. Columns whose type this reader
    * does not convert simply get no bounds (kept). */
  def fromDeltaStats(statsJson: String, schema: StructType): Map[String, ColBounds] = {
    val root =
      try Json.mapper.readTree(statsJson)
      catch { case _: Exception => return Map.empty } // malformed stats: no pruning
    if (root == null || !root.isObject) return Map.empty
    val numRecords = Option(root.get("numRecords")).filter(_.isNumber).map(_.asLong())
    def section(name: String): Map[String, JsonNode] =
      Option(root.get(name)).filter(_.isObject).map { o =>
        val it = o.properties().iterator()
        val b = Map.newBuilder[String, JsonNode]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
        b.result()
      }.getOrElse(Map.empty)
    val mins = section("minValues")
    val maxs = section("maxValues")
    val nulls = section("nullCount")
    schema.fields.flatMap { f =>
      val min = mins.get(f.name).flatMap(jsonToCatalyst(_, f.dataType))
      val max = maxs.get(f.name).flatMap(jsonToCatalyst(_, f.dataType))
      val nc = nulls.get(f.name).filter(_.isNumber).map(_.asLong())
      if (min.isEmpty && max.isEmpty && nc.isEmpty && numRecords.isEmpty) None
      else Some(f.name -> ColBounds(min, max, nc, numRecords))
    }.toMap
  }

  /** One Delta-stats JSON value in the column's Catalyst form; None for
    * nulls, type mismatches, and types outside the converted set
    * (timestamps — writer-zone ambiguity — and nested types). */
  private def jsonToCatalyst(v: JsonNode, dt: DataType): Option[Any] = {
    if (v == null || v.isNull) return None
    try dt match {
      case LongType if v.isNumber => Some(v.asLong())
      case IntegerType if v.isNumber => Some(v.asInt())
      case ShortType if v.isNumber => Some(v.asInt().toShort)
      case ByteType if v.isNumber => Some(v.asInt().toByte)
      case DoubleType if v.isNumber => Some(v.asDouble())
      case FloatType if v.isNumber => Some(v.asDouble().toFloat)
      case BooleanType if v.isBoolean => Some(v.asBoolean())
      case StringType if v.isTextual => Some(UTF8String.fromString(v.asText()))
      case DateType if v.isTextual =>
        Some(java.time.LocalDate.parse(v.asText()).toEpochDay.toInt)
      case TimestampType if v.isTextual =>
        // Delta writes timestamp stats as ISO-8601 (millisecond
        // precision, max rounded UP by the writer so it stays an upper
        // bound); catalyst form is epoch micros
        val t = v.asText()
        val inst =
          try java.time.OffsetDateTime.parse(t).toInstant
          catch { case _: Exception =>
            java.time.LocalDateTime.parse(t)
              .toInstant(java.time.ZoneOffset.UTC)
          }
        Some(Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
          inst.getNano / 1000L))
      case TimestampNTZType if v.isTextual =>
        // NTZ stats are a LOCAL ISO datetime — no zone to interpret;
        // catalyst form is the local datetime's as-if-UTC micros
        val t = v.asText()
        val ldt =
          try java.time.LocalDateTime.parse(t)
          catch { case _: Exception =>
            java.time.OffsetDateTime.parse(t).toLocalDateTime
          }
        val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
        Some(Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
          inst.getNano / 1000L))
      case d: DecimalType if v.isNumber || v.isTextual =>
        val dec = org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(v.asText()))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Iceberg single-value serialization → the column's Catalyst form
    * (the bounds maps' binary values). Little-endian numerics, UTF-8
    * strings, int days / long micros for date/timestamp, unscaled
    * big-endian decimals. */
  def icebergBoundValue(bytes: Array[Byte], dt: DataType): Option[Any] = {
    if (bytes == null) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    try dt match {
      case LongType | TimestampType | TimestampNTZType if bytes.length == 8 =>
        Some(buf.getLong)
      case IntegerType | DateType if bytes.length == 4 => Some(buf.getInt)
      case DoubleType if bytes.length == 8 => Some(buf.getDouble)
      case FloatType if bytes.length == 4 => Some(buf.getFloat)
      case BooleanType if bytes.length == 1 => Some(bytes(0) != 0)
      case StringType => Some(UTF8String.fromBytes(bytes))
      case d: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal( // unscaled BE per spec
          new java.math.BigDecimal(new java.math.BigInteger(bytes), d.scale))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case _ => None
    } catch { case _: Exception => None }
  }

  /** Conservative containment: may a file with `bounds` hold a row
    * matching every one of `filters`? */
  def mayMatch(filters: Seq[Expression], bounds: Map[String, ColBounds]): Boolean =
    bounds.isEmpty || filters.forall(mayMatchOne(_, bounds))

  private def mayMatchOne(e: Expression, bounds: Map[String, ColBounds]): Boolean = {
    def ord(dt: DataType) = TypeUtils.getInterpretedOrdering(dt)
    def b(a: AttributeReference) = bounds.get(a.name)
    // value-vs-interval checks; an unknown bound keeps the file
    def geMin(a: AttributeReference, v: Any, strict: Boolean): Boolean =
      b(a).flatMap(_.max).forall { mx =>
        val c = ord(a.dataType).compare(mx, v); if (strict) c > 0 else c >= 0
      }
    def leMax(a: AttributeReference, v: Any, strict: Boolean): Boolean =
      b(a).flatMap(_.min).forall { mn =>
        val c = ord(a.dataType).compare(mn, v); if (strict) c < 0 else c <= 0
      }
    def contains(a: AttributeReference, v: Any): Boolean =
      geMin(a, v, strict = false) && leMax(a, v, strict = false)
    e match {
      case And(l, r) => mayMatchOne(l, bounds) && mayMatchOne(r, bounds)
      case Or(l, r) => mayMatchOne(l, bounds) || mayMatchOne(r, bounds)
      case EqualTo(a: AttributeReference, Literal(v, dt))
          if v != null && dt == a.dataType => contains(a, v)
      case EqualTo(Literal(v, dt), a: AttributeReference)
          if v != null && dt == a.dataType => contains(a, v)
      case GreaterThan(a: AttributeReference, Literal(v, dt))
          if v != null && dt == a.dataType => geMin(a, v, strict = true)
      case GreaterThan(Literal(v, dt), a: AttributeReference)
          if v != null && dt == a.dataType => leMax(a, v, strict = true)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt))
          if v != null && dt == a.dataType => geMin(a, v, strict = false)
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference)
          if v != null && dt == a.dataType => leMax(a, v, strict = false)
      case LessThan(a: AttributeReference, Literal(v, dt))
          if v != null && dt == a.dataType => leMax(a, v, strict = true)
      case LessThan(Literal(v, dt), a: AttributeReference)
          if v != null && dt == a.dataType => geMin(a, v, strict = true)
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt))
          if v != null && dt == a.dataType => leMax(a, v, strict = false)
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference)
          if v != null && dt == a.dataType => geMin(a, v, strict = false)
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall {
          case Literal(v, dt) => v != null && dt == a.dataType
          case _ => false
        } => vs.exists { case Literal(v, _) => contains(a, v) }
      case StartsWith(a: AttributeReference, Literal(p: UTF8String, StringType))
          if p != null && a.dataType == StringType =>
        // values with prefix p exist only if the interval's endpoints
        // bracket p at prefix length: prefix(min) ≤ p ≤ prefix(max)
        val n = p.numChars()
        b(a).flatMap(_.min).forall(m =>
          m.asInstanceOf[UTF8String].substring(0, n).compareTo(p) <= 0) &&
          b(a).flatMap(_.max).forall(m =>
            m.asInstanceOf[UTF8String].substring(0, n).compareTo(p) >= 0)
      case IsNull(a: AttributeReference) =>
        b(a).flatMap(_.nullCount).forall(_ > 0)
      case IsNotNull(a: AttributeReference) =>
        b(a) match {
          case Some(cb) if cb.nullCount.isDefined && cb.numRecords.isDefined =>
            cb.nullCount.get < cb.numRecords.get
          case _ => true
        }
      case _ => true // unsupported shape: never prune on it
    }
  }
}
