package graft.cdc

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema reconciliation between an incoming change batch and the target
  * table, flipping the reference's intersect-and-drop rule
  * (`importableColumns`, /root/reference/load.go:193-237 — source-only
  * columns are dropped with a warning) into *evolution*: added columns are
  * appended (nullable), numeric/decimal types are widened (the reference only
  * warns on narrower destinations, load.go:219-232 — we widen instead), and
  * columns are never silently dropped.
  */
object SchemaEvolution {

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Widest common type, or None if incompatible (caller fails loudly). */
  def widen(a: DataType, b: DataType): Option[DataType] = (a, b) match {
    case (x, y) if x == y => Some(x)
    // any integral pair whose wider side is LONG widens to long (a narrower
    // batch against a long table column is trivially compatible)
    case (LongType, y) if isIntegral(y) => Some(LongType)
    case (x, LongType) if isIntegral(x) => Some(LongType)
    case (ShortType | ByteType | IntegerType, ShortType | ByteType | IntegerType) => Some(IntegerType)
    case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
    case (x, FloatType | DoubleType) if isIntegral(x) => Some(DoubleType)
    case (FloatType | DoubleType, y) if isIntegral(y) => Some(DoubleType)
    case (d1: DecimalType, d2: DecimalType) =>
      // INTEGER digits are load-bearing: capping precision at 38 while
      // keeping the max scale could yield a type with FEWER integer digits
      // than the table already stores — conform() would then overflow
      // committed values to NULL (silent corruption). Keep every integer
      // digit and sacrifice SCALE instead (fractional rounding on cast, the
      // same trade Spark's own decimal promotion makes); if the integer
      // digits alone exceed 38 the pair is genuinely incompatible.
      val intDigits = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
      val scale = math.min(math.max(d1.scale, d2.scale),
        DecimalType.MAX_PRECISION - intDigits)
      if (intDigits > DecimalType.MAX_PRECISION || scale < 0) None
      else Some(DecimalType(
        math.min(intDigits + scale, DecimalType.MAX_PRECISION), scale))
    case (d: DecimalType, y) if isIntegral(y) => widen(d, DecimalType(20, 0))
    case (x, d: DecimalType) if isIntegral(x) => widen(DecimalType(20, 0), d)
    case (DateType, TimestampType) | (TimestampType, DateType) => Some(TimestampType)
    case _ => None
  }

  /** Merge `incoming` into `table` schema: keep every table column (widened
    * where the batch sends a wider type), append batch-only columns as
    * nullable. Column identity is case-insensitive by name (Spark default).
    */
  def merge(table: StructType, incoming: StructType): StructType = {
    // case-insensitive identity means two incoming columns differing only by
    // case would collapse into one — `toMap` would keep whichever came last
    // and the other would vanish, violating the no-silent-drop contract
    val dupes = incoming.fieldNames.groupBy(_.toLowerCase).filter(_._2.length > 1)
    require(dupes.isEmpty,
      s"incoming batch carries case-colliding column names " +
      s"(${dupes.values.map(_.mkString("/")).mkString(", ")}) — column identity " +
      "is case-insensitive (Spark default); rename one side")
    val byName = incoming.fields.map(f => f.name.toLowerCase -> f).toMap
    val widened = table.fields.map { tf =>
      byName.get(tf.name.toLowerCase) match {
        case Some(inF) =>
          val dt = widen(tf.dataType, inF.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"incompatible evolution for column ${tf.name}: ${tf.dataType} vs ${inF.dataType}"))
          tf.copy(dataType = dt, nullable = tf.nullable || inF.nullable)
        case None => tf
      }
    }
    val tableNames = table.fieldNames.map(_.toLowerCase).toSet
    val added = incoming.fields.filterNot(f => tableNames.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true))
    StructType(widened ++ added)
  }

  /** Project `df` onto `target` schema in ONE select: a `derived` column is
    * computed from its expression, a shared one cast, a missing one null.
    * Keeps column order of `target`.
    */
  def conform(df: DataFrame, target: StructType, derived: Map[String, Column] = Map.empty): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    df.select(target.fields.toSeq.map { f =>
      derived.getOrElse(f.name, if (have.contains(f.name.toLowerCase)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }: _*)
  }
}
