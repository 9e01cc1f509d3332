package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Validation level — colnade ValidationLevel / set_validation
  * (reference src/colnade/validation.py:30-105), held per Spark session:
  * the session conf `spark.graft.validate=off|structural|full`, read at
  * the typed boundary, so two sessions (a stream next to a batch job)
  * can validate at different levels. A session that sets none takes
  * the env var GRAFT_VALIDATE, and OFF when that is unset, like the
  * reference. */
object GValidation {
  sealed trait Level
  case object Off extends Level
  case object Structural extends Level
  case object Full extends Level

  val Conf = "spark.graft.validate"

  /** `spark`'s level; an unrecognised value fails loudly rather than
    * silently validating less than asked. */
  def level(spark: SparkSession): Level =
    spark.conf.get(Conf, sys.env.getOrElse("GRAFT_VALIDATE", "off"))
      .toLowerCase(java.util.Locale.ROOT) match {
      case "off"        => Off
      case "structural" => Structural
      case "full"       => Full
      case other => throw new IllegalArgumentException(
        s"$Conf must be off, structural or full, got '$other'")
    }
}

/** Schema + constraint validation, redesigned for scale.
  *
  * The reference validates per-constraint with engine calls
  * (colnade-polars adapter.py:303-511). At 100 TB that is k passes over
  * the data; graft folds EVERY Field constraint, null check, and
  * @schema_check for a table into ONE scan/aggregation pass — Spark
  * evaluates all the conditional counters in a single scan with
  * map-side partial aggregation, and `unique` constraints ride the same
  * aggregation as count vs count_distinct pairs. One pass is not one
  * job: adaptive execution submits each shuffle stage of the
  * aggregation as its own job (perfbench measures 3 per call on a
  * schema with a `unique` column).
  */
object Validator {

  /** Structural check: columns present, no extras, dtypes match —
    * metadata-only, runs no Spark job (reference adapter.py:303-343). */
  def structural(df: DataFrame, schema: GSchema): Unit = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val expected = schema.columns.map(c => c.name -> c.dataType)
    val missing = expected.collect { case (n, _) if !actual.contains(n) => n }
    val extra = df.schema.fieldNames.filterNot(schema.columnNames.toSet).toSeq
    val mismatches = expected.collect {
      case (n, dt) if actual.contains(n) && !compatible(dt, actual(n)) =>
        n -> (dt.simpleString, actual(n).simpleString)
    }.toMap
    if (missing.nonEmpty || extra.nonEmpty || mismatches.nonEmpty)
      throw GSchemaError(missingColumns = missing, extraColumns = extra, typeMismatches = mismatches)
  }

  /** Dtype compatibility: exact match, modulo timestamp flavors. */
  private def compatible(declared: DataType, actual: DataType): Boolean =
    (declared, actual) match {
      case (a, b) if a == b => true
      case (TimestampType, _: TimestampNTZType) => true
      case (ArrayType(a, _), ArrayType(b, _)) => compatible(a, b)
      case (StructType(fa), StructType(fb)) =>
        fa.length == fb.length && fa.zip(fb).forall { case (x, y) =>
          x.name == y.name && compatible(x.dataType, y.dataType) }
      case _ => false
    }

  /** All value-level constraints in a single aggregation pass.
    * Returns violations; `constraints` throws on any. */
  def collectViolations(df: DataFrame, schema: GSchema): Seq[ValueViolation] = {
    case class Probe(column: String, constraint: String, countIdx: Int, sampleIdx: Int)
    val aggs = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Column]
    val probes = scala.collection.mutable.ListBuffer.empty[Probe]
    var uniqueProbes = List.empty[(String, Int, Int)] // column, countIdx, distinctIdx

    def addProbe(column: String, constraint: String, violation: org.apache.spark.sql.Column,
                 sampleOf: org.apache.spark.sql.Column): Unit = {
      val ci = aggs.size
      aggs += sum(when(violation, 1L).otherwise(0L))
      val si = aggs.size
      aggs += first(when(violation, sampleOf), ignoreNulls = true)
      probes += Probe(column, constraint, ci, si)
    }

    schema.columns.foreach { gc =>
      val c = col(gc.name)
      // Declared non-null: null-count rides the same pass (reference
      // treats nullability as structural; data-level nulls need a scan).
      if (!gc.nullable) addProbe(gc.name, "non_null", c.isNull, lit("null"))
      gc.fieldInfo.filter(_.hasConstraints).foreach { f =>
        f.ge.foreach(v => addProbe(gc.name, s"ge=$v", c < lit(v), c))
        f.gt.foreach(v => addProbe(gc.name, s"gt=$v", c <= lit(v), c))
        f.le.foreach(v => addProbe(gc.name, s"le=$v", c > lit(v), c))
        f.lt.foreach(v => addProbe(gc.name, s"lt=$v", c >= lit(v), c))
        f.minLength.foreach(v => addProbe(gc.name, s"min_length=$v", length(c) < v, c))
        f.maxLength.foreach(v => addProbe(gc.name, s"max_length=$v", length(c) > v, c))
        f.pattern.foreach(p => addProbe(gc.name, s"pattern=$p", !c.rlike(p) && c.isNotNull, c))
        f.isin.foreach(vs => addProbe(gc.name, "isin", !c.isin(vs: _*) && c.isNotNull, c))
        if (f.unique) {
          // Scale note: k exact count_distinct aggregates on DIFFERENT
          // columns in one job make Catalyst plan an Expand (scan output
          // multiplied k-fold). One `unique` column per table is the
          // common case and costs nothing extra; schemas with several
          // unique columns at extreme scale should prefer one validation
          // pass per unique column, or an approx_count_distinct
          // pre-screen, traded explicitly by the caller.
          val ci = aggs.size; aggs += count(c)
          val di = aggs.size; aggs += count_distinct(c)
          uniqueProbes = (gc.name, ci, di) :: uniqueProbes
        }
      }
    }
    schema.schemaChecks.foreach { chk =>
      addProbe("<schema>", chk.name, !chk.expr().c, lit("row"))
    }

    if (aggs.isEmpty) return Nil
    val row = df.agg(aggs.head, aggs.tail.toSeq: _*).collect()(0)
    val fieldViolations = probes.toSeq.flatMap { p =>
      val n = if (row.isNullAt(p.countIdx)) 0L else row.getLong(p.countIdx)
      if (n > 0) Some(ValueViolation(p.column, p.constraint, n,
        Option(row.get(p.sampleIdx)).toSeq))
      else None
    }
    val uniqueViolations = uniqueProbes.flatMap { case (name, ci, di) =>
      val total = row.getLong(ci); val distinct = row.getLong(di)
      if (total != distinct) Some(ValueViolation(name, "unique", total - distinct, Nil)) else None
    }
    fieldViolations ++ uniqueViolations
  }

  def constraints(df: DataFrame, schema: GSchema): Unit = {
    val v = collectViolations(df, schema)
    if (v.nonEmpty) throw GSchemaError(valueViolations = v)
  }
}
