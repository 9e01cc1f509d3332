package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._

/** Typed frame over a Spark DataFrame — colnade DataFrame[S]/LazyFrame[S]
  * (reference src/colnade/dataframe.py:298-1126).
  *
  * The reference's eager/lazy split collapses here: Spark DataFrames are
  * always lazy plans, so `TFrame ≡ LazyFrame` and actions (`collectRows`,
  * `height`, `item`) play the role of `collect()`. Schema-preserving ops
  * return `TFrame[S]`; schema-transforming ops (select/agg/groupBy.agg)
  * return an untyped frame (`schemaOpt = None`) that `castSchema` re-binds,
  * exactly mirroring the reference's `DataFrame[Any]` + `cast_schema()`
  * contract.
  */
final class TFrame[S <: GSchema](val df: DataFrame, val schemaOpt: Option[S]) extends Serializable {

  private def same(d: DataFrame): TFrame[S] = new TFrame[S](d, schemaOpt)
  private def erased(d: DataFrame): TFrame[GSchema] = new TFrame[GSchema](d, None)

  def toNative: DataFrame = df

  // --- Introspection (reference dataframe.py:341-384) ---
  def height: Long = df.count()
  def width: Int = schemaOpt.map(_.columns.size).getOrElse(df.schema.size)
  def shape: (Long, Int) = (height, width)
  def isEmpty: Boolean = df.isEmpty

  /** Scalar extraction from a 1-row frame (reference dataframe.py:428). */
  def item[T](c: GCol[T]): T = {
    val rows = df.select(c.column).limit(2).collect()
    require(rows.length == 1, s"item() requires exactly 1 row, got ${rows.length}")
    rows(0).getAs[T](0)
  }

  /** Scalar from a 1×1 frame without naming the column (reference
    * dataframe.py:426-428 no-arg form). */
  def item[T](): T = {
    require(df.schema.size == 1, s"item() requires exactly 1 column, got ${df.schema.size}")
    val rows = df.limit(2).collect()
    require(rows.length == 1, s"item() requires exactly 1 row, got ${rows.length}")
    rows(0).getAs[T](0)
  }

  // --- Schema-preserving ops (reference dataframe.py:448-496) ---
  def filter(p: TypedCol[Boolean]): TFrame[S] = same(df.filter(p.c))

  def sort(keys: SortKey*): TFrame[S] = same(df.orderBy(keys.map(_.sortCol): _*))

  def limit(n: Int): TFrame[S] = same(df.limit(n))
  def head(n: Int = 5): TFrame[S] = same(df.limit(n))
  /** Last n rows in ascending `keys` order. A distributed engine has no
    * stable "natural order", so tail takes explicit keys: sort descending,
    * take n (Spark's TakeOrderedAndProject — no full sort at scale). */
  def tail(n: Int, keys: GCol[_]*): TFrame[S] =
    same(df.orderBy(keys.map(_.column.desc): _*).limit(n))

  /** Seeded fraction sample — the preferred scale path (pure map-side,
    * no count, no shuffle). */
  def sampleFraction(fraction: Double, seed: Long = 42L): TFrame[S] =
    same(df.sample(withReplacement = false, fraction, seed))

  /** Exactly-n seeded sample (reference dataframe.py:475) WITHOUT a
    * pre-count: order by a seeded `rand()` and take n. Compiles to
    * TakeOrderedAndProject — each partition keeps its own top-n by the
    * random key, the driver merges p·n candidates; no full sort, no
    * extra scan. Cost grows with n, so for "roughly n of 100 TB" prefer
    * [[sampleFraction]]. */
  def sample(n: Int, seed: Long = 42L): TFrame[S] =
    same(df.orderBy(rand(seed)).limit(n))

  /** Distinct rows by key columns, keeping one representative row —
    * colnade unique() (reference dataframe.py:480). Implemented as a
    * groupBy-first (shuffle on the keys only), not a global distinct of
    * whole rows — at 100 TB only the keys + one row per group move.
    * Like the reference, the representative is "any" row of the group
    * (first-encountered — stable within a run, not across
    * repartitionings); pipelines needing a canonical representative
    * should sort or aggregate explicitly. */
  def unique(keys: GCol[_]*): TFrame[S] =
    if (keys.isEmpty) same(df.distinct())
    else {
      val keyNames = keys.map(_.name)
      val others = df.columns.filterNot(keyNames.contains)
      if (others.isEmpty) same(df.distinct())
      else {
        val aggs = others.map(n => first(col(n)).as(n))
        same(df.groupBy(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .select(df.columns.map(col): _*))
      }
    }

  def dropNulls(cols: GCol[_]*): TFrame[S] =
    if (cols.isEmpty) same(df.na.drop()) else same(df.na.drop(cols.map(_.name)))

  /** Add or overwrite columns (reference dataframe.py:492). */
  def withCols(exprs: Aliased*): TFrame[S] =
    same(df.withColumns(exprs.map(e => e.name -> e.c).toMap))

  // --- Schema-transforming ops (reference dataframe.py:586-598) ---
  def select(cols: SelectArg*): TFrame[GSchema] = erased(df.select(cols.map(_.selectCol): _*))

  /** Whole-frame aggregation to a single row (reference dataframe.py:594). */
  def agg(exprs: Aliased*): TFrame[GSchema] =
    erased(df.agg(exprs.head.column, exprs.tail.map(_.column): _*))

  def groupBy(keys: GCol[_]*): GroupedFrame[S] =
    new GroupedFrame[S](df, keys.map(_.column))

  /** Group by computed expressions (aliased) — colnade allows grouping by
    * any expr; descriptor overload above covers the common case. */
  def groupBySel(keys: SelectArg*): GroupedFrame[S] =
    new GroupedFrame[S](df, keys.map(_.selectCol))

  // --- Join (reference dataframe.py:609-622) ---
  /** Equi-join on a JoinCond. Right-side columns whose names collide with
    * the left are renamed `name__r` and tracked, so castSchema can apply
    * colnade's ambiguity rules (reference dataframe.py:1388-1399).
    * `broadcastRight` plants a broadcast hint for small dims. */
  def join[S2 <: GSchema](
      other: TFrame[S2],
      on: JoinCond,
      how: String = "inner",
      broadcastRight: Boolean = false,
  ): JoinedFrame[S, S2] = {
    val leftNames = df.columns.toSet
    val rightDupes = other.df.columns.filter(leftNames.contains)
    val renames = rightDupes.map(n => n -> s"${n}__r").toMap
    val rdf0 = renames.foldLeft(other.df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    val rdf = if (broadcastRight) broadcast(rdf0) else rdf0
    // "cross" ignores the condition (reference dataframe.py:613 accepts
    // the same literal); everything else is an equi-join on the pairs.
    val joined =
      if (how == "cross") df.crossJoin(rdf)
      else df.join(rdf,
        on.pairs.map { case (l, r) => df(l) === rdf(renames.getOrElse(r, r)) }.reduce(_ && _),
        how)
    new JoinedFrame[S, S2](joined, schemaOpt, other.schemaOpt, renames)
  }

  /** Semi/anti joins (Spark superset — EXISTS / NOT EXISTS pushups). */
  def semiJoin[S2 <: GSchema](other: TFrame[S2], on: JoinCond): TFrame[S] =
    same(df.join(other.df, on.pairs.map { case (l, r) => df(l) === other.df(r) }.reduce(_ && _), "left_semi"))
  def antiJoin[S2 <: GSchema](other: TFrame[S2], on: JoinCond): TFrame[S] =
    same(df.join(other.df, on.pairs.map { case (l, r) => df(l) === other.df(r) }.reduce(_ && _), "left_anti"))

  // --- Schema transition (reference dataframe.py:626-644) ---
  /** Bind to a target schema with colnade's 4-step mapping resolution
    * (reference dataframe.py:234-290): explicit mapping > mappedFrom >
    * name match > identity fallback when target extends source. */
  def castSchema[S3 <: GSchema](
      target: S3,
      mapping: Map[GCol[_], GCol[_]] = Map.empty,
      extraForbid: Boolean = false,
  ): TFrame[S3] = {
    val sourceNames: Set[String] = schemaOpt.map(_.columnNames.toSet).getOrElse(df.columns.toSet)
    val nameMap = CastResolve.resolve(target, sourceNames, mapping, extraForbid,
      ambiguous = Set.empty,
      inheritanceFallback = schemaOpt.exists(s => s.getClass.isAssignableFrom(target.getClass)))
    val projected = target.columns.map(tc => col(nameMap(tc.name)).cast(tc.dataType).as(tc.name))
    new TFrame[S3](df.select(projected: _*), Some(target))
  }

  // --- Concat (reference dataframe.py:114-164) is in Tio.concat ---

  /** Escape hatch on the raw engine frame — colnade with_raw
    * (reference dataframe.py:653-673). */
  def withRaw(fn: DataFrame => DataFrame): TFrame[S] = {
    val out = same(fn(df))
    if (GValidation.level(out.df.sparkSession) != GValidation.Off)
      schemaOpt.foreach(s => Validator.structural(out.df, s))
    out
  }

  // --- Validation (reference dataframe.py:677-687) ---
  /** Always runs structural + value-level checks, independent of the
    * session's level — mirrors reference validate(). */
  def validate(): TFrame[S] = {
    schemaOpt.foreach { s =>
      Validator.structural(df, s)
      Validator.constraints(df, s)
    }
    this
  }

  // --- Materialization / conversion ---
  def collectRows(): Array[Row] = df.collect()

  /** Column-oriented collect — colnade rows_to_dict (reference
    * dataframe.py). Driver-side action; for large frames prefer
    * [[iterRowsAs]] or [[toArrowBatches]]. */
  def rowsToDict(): Map[String, Seq[Any]] = {
    val rows = df.collect()
    df.columns.zipWithIndex.map { case (n, i) => n -> rows.toSeq.map(_.get(i)) }.toMap
  }
  def toDS[T: Encoder]: Dataset[T] = df.as[T]

  /** Typed local row iteration — colnade iter_rows_as (reference
    * dataframe.py:374). Streams one partition at a time to the driver
    * (toLocalIterator), never materializing the whole frame. */
  def iterRowsAs[T: Encoder]: Iterator[T] = {
    import scala.jdk.CollectionConverters._
    df.as[T].toLocalIterator().asScala
  }

  /** Arrow-IPC interchange — colnade to_batches/to_pyarrow (reference
    * dataframe.py:689, arrow.py:27-70): one serialized Arrow RecordBatch
    * per RDD element, produced distributively. */
  def toArrowBatches: org.apache.spark.rdd.RDD[Array[Byte]] =
    org.apache.spark.sql.graftbridge.Bridge.arrowBatchRdd(df)

  /** Arrow-IPC interchange with a caller-bounded batch size — the
    * reference's `to_batches(batch_size)` knob (dataframe.py:689): at
    * most `batchSize` rows per RecordBatch so the consumer's per-batch
    * memory is bounded regardless of partition sizes. */
  def toArrowBatches(batchSize: Int): org.apache.spark.rdd.RDD[Array[Byte]] = {
    require(batchSize > 0, s"batchSize must be positive: $batchSize")
    org.apache.spark.sql.graftbridge.Bridge.arrowBatchRdd(df, batchSize.toLong)
  }
  def cache(): TFrame[S] = same(df.cache())
  def explainPlan(): String = df.queryExecution.explainString(
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
}

/** select() argument magnet: bare descriptor or aliased expression. */
sealed trait SelectArg { def selectCol: Column }
object SelectArg {
  implicit def fromGCol(g: GCol[_]): SelectArg = new SelectArg { def selectCol: Column = g.column }
  implicit def fromAliased(a: Aliased): SelectArg = new SelectArg { def selectCol: Column = a.column }
}

/** sort() argument magnet: bare descriptor (asc) or GSort. */
sealed trait SortKey { def sortCol: Column }
object SortKey {
  implicit def fromGCol(g: GCol[_]): SortKey = new SortKey { def sortCol: Column = g.column }
  implicit def fromGSort(s: GSort): SortKey = new SortKey { def sortCol: Column = s.c }
}

/** GroupBy carrier — colnade GroupBy/LazyGroupBy (reference
  * dataframe.py:1133-1180). Spark performs map-side partial aggregation
  * automatically, so the shuffle moves pre-combined state, not rows. */
final class GroupedFrame[S <: GSchema](df: DataFrame, keys: Seq[Column]) {
  def agg(exprs: Aliased*): TFrame[GSchema] =
    new TFrame[GSchema](
      df.groupBy(keys: _*).agg(exprs.head.column, exprs.tail.map(_.column): _*),
      None)
}

/** Transitional two-schema frame after a join — colnade
  * JoinedDataFrame[S, S2] (reference dataframe.py:1188-1412). */
final class JoinedFrame[A <: GSchema, B <: GSchema](
    val df: DataFrame,
    val leftSchema: Option[A],
    val rightSchema: Option[B],
    private[graft] val rightRenames: Map[String, String],
) extends Serializable {

  private def same(d: DataFrame): JoinedFrame[A, B] =
    new JoinedFrame[A, B](d, leftSchema, rightSchema, rightRenames)

  /** Side-explicit typed accessors for COLLIDED column names. A bare
    * `L.v`/`R.v` expression compiles to `col("v")`, which cannot say
    * which side it means once both schemas define `v` — so ambiguous
    * bare references are REJECTED (see [[remap]]), mirroring the
    * reference's explicitness rule for ambiguous cast_schema names
    * (dataframe.py:1388-1399). Uncollided names need no accessor. */
  def left[T](c: GCol[T]): TypedCol[T] = new TypedCol[T](df(c.name))
  def right[T](c: GCol[T]): TypedCol[T] =
    new TypedCol[T](df(rightRenames.getOrElse(c.name, c.name)))

  /** Ownership-aware name resolution for GCol-typed arguments: the
    * descriptor knows its owner schema, so collided names resolve
    * correctly without user involvement. */
  private def resolveName(c: GCol[_]): String =
    if (rightSchema.exists(_ eq c.owner) && rightRenames.contains(c.name)) rightRenames(c.name)
    else c.name
  private[graft] def resolveKeyName(c: GCol[_]): String = resolveName(c)

  /** Validate a user expression against the join's renames: a bare
    * single-part reference to a COLLIDED name is ambiguous — fail fast
    * with the fix, never guess a side. Runs on the CONVERTED catalyst
    * tree (Bridge.catalystExpr) — Spark 4 Columns are ColumnNode shims a
    * catalyst traversal can't see into. */
  private[graft] def remap(c: Column): Column = {
    if (rightRenames.nonEmpty) {
      import org.apache.spark.sql.graftbridge.Bridge
      val ambiguous = Bridge.catalystExpr(c).collect {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(parts)
            if parts.size == 1 && rightRenames.contains(parts.head) => parts.head
      }
      if (ambiguous.nonEmpty) throw new IllegalArgumentException(
        s"Ambiguous column reference(s) after join: ${ambiguous.distinct.mkString(", ")} " +
          "exist in both schemas. Use joinedFrame.left(col) / joinedFrame.right(col).")
    }
    c
  }

  def toNative: DataFrame = df

  def filter(p: TypedCol[Boolean]): JoinedFrame[A, B] = same(df.filter(remap(p.c)))
  def sort(keys: SortKey*): JoinedFrame[A, B] = same(df.orderBy(keys.map(k => remap(k.sortCol)): _*))
  def limit(n: Int): JoinedFrame[A, B] = same(df.limit(n))
  /** Same groupBy-first shape as [[TFrame.unique]] — the shuffle moves
    * keys + one representative row per group, not every duplicate row. */
  def unique(keys: GCol[_]*): JoinedFrame[A, B] =
    if (keys.isEmpty) same(df.distinct())
    else {
      val keyNames = keys.map(resolveName)
      val others = df.columns.filterNot(keyNames.contains)
      if (others.isEmpty) same(df.distinct())
      else {
        val aggs = others.map(n => first(col(n)).as(n))
        same(df.groupBy(keyNames.map(col): _*).agg(aggs.head, aggs.tail: _*)
          .select(df.columns.map(col): _*))
      }
    }
  def dropNulls(cols: GCol[_]*): JoinedFrame[A, B] =
    if (cols.isEmpty) same(df.na.drop())
    else same(df.na.drop(cols.map(resolveName)))
  def withCols(exprs: Aliased*): JoinedFrame[A, B] =
    same(df.withColumns(exprs.map(e => e.name -> remap(e.c)).toMap))

  def select(cols: SelectArg*): TFrame[GSchema] =
    new TFrame[GSchema](df.select(cols.map(c => remap(c.selectCol)): _*), None)

  def agg(exprs: Aliased*): TFrame[GSchema] =
    new TFrame[GSchema](df.agg(
      remap(exprs.head.c).as(exprs.head.name),
      exprs.tail.map(e => remap(e.c).as(e.name)): _*), None)

  def groupBy(keys: GCol[_]*): JoinedGroupedFrame[A, B] =
    new JoinedGroupedFrame[A, B](this, keys)

  /** Flatten into a single-schema frame with ambiguity tracking —
    * duplicate names require explicit mapping or mappedFrom, exactly
    * like the reference (dataframe.py:1388-1399). */
  def castSchema[S3 <: GSchema](
      target: S3,
      mapping: Map[GCol[_], GCol[_]] = Map.empty,
      extraForbid: Boolean = false,
  ): TFrame[S3] = {
    val leftNames = leftSchema.map(_.columnNames).getOrElse(Nil)
    val rightNames = rightSchema.map(_.columnNames).getOrElse(Nil)
    val ambiguous = leftNames.toSet intersect rightNames.toSet
    val sourceNames = leftNames.toSet ++ rightNames
    val nameMap = CastResolve.resolve(target, sourceNames, mapping, extraForbid, ambiguous,
      inheritanceFallback = false, rightSchemaObj = rightSchema,
      rightRenames = rightRenames)
    val projected = target.columns.map { tcol =>
      val src = nameMap(tcol.name)
      col(src).cast(tcol.dataType).as(tcol.name)
    }
    new TFrame[S3](df.select(projected: _*), Some(target))
  }
}

final class JoinedGroupedFrame[A <: GSchema, B <: GSchema](
    jf: JoinedFrame[A, B], keys: Seq[GCol[_]]) {
  def agg(exprs: Aliased*): TFrame[GSchema] = {
    val keyCols = keys.map(k => col(jf.resolveKeyName(k)).as(k.name))
    // Aggregate exprs must go through remap too: a right-schema column
    // that collided at join time lives under its renamed name.
    val aggCols = exprs.map(e => jf.remap(e.c).as(e.name))
    new TFrame[GSchema](
      jf.df.groupBy(keyCols: _*)
        .agg(aggCols.head, aggCols.tail: _*),
      None)
  }
}

/** cast_schema mapping resolution — colnade _resolve_mapping
  * (reference src/colnade/dataframe.py:234-290). */
private[graft] object CastResolve {
  def resolve(
      target: GSchema,
      sourceNames: Set[String],
      mapping: Map[GCol[_], GCol[_]],
      extraForbid: Boolean,
      ambiguous: Set[String],
      inheritanceFallback: Boolean,
      rightSchemaObj: Option[GSchema] = None,
      rightRenames: Map[String, String] = Map.empty,
  ): Map[String, String] = {
    // A right-schema source column may have been renamed at join time.
    // Ownership decides the side — name membership alone would send an
    // explicit mapping from a collided LEFT column to the right rename.
    def actual(srcCol: GCol[_]): String = {
      val n = srcCol.name
      if (rightSchemaObj.exists(_ eq srcCol.owner) && rightRenames.contains(n)) rightRenames(n)
      else n
    }
    val explicitByName: Map[String, String] =
      mapping.map { case (tgt, src) => tgt.name -> actual(src) }
    val resolved = scala.collection.mutable.LinkedHashMap.empty[String, String]
    target.columns.foreach { tcol =>
      val name = tcol.name
      if (explicitByName.contains(name)) resolved(name) = explicitByName(name)
      else tcol.mappedFrom match {
        case Some(src) => resolved(name) = actual(src)
        case None =>
          if (sourceNames.contains(name) && !ambiguous.contains(name)) resolved(name) = name
          else if (inheritanceFallback) resolved(name) = name
      }
    }
    val missing = target.columnNames.filterNot(resolved.contains)
    if (missing.nonEmpty) throw GSchemaError(missingColumns = missing)
    if (extraForbid) {
      val used = resolved.values.toSet
      val extras = (sourceNames -- used.map(n => rightRenames.find(_._2 == n).map(_._1).getOrElse(n))).toSeq.sorted
      if (extras.nonEmpty) throw GSchemaError(extraColumns = extras)
    }
    resolved.toMap
  }
}
