package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** (version, rowsUpdated, rowsDeleted, rowsInserted) of one DML commit. */
case class DmlStats(version: Long, updated: Long, deleted: Long,
                    inserted: Long)

/** The clauses of `MERGE INTO target [AS t] USING source [AS s] ON cond`,
  * the one clause model of the three lakehouse writers ([[DeltaDml]],
  * [[IcebergDml]], [[PaimonDml]]). Conditions and values are SQL text over
  * the target and source aliases; an absent condition is TRUE, a NULL one
  * is FALSE.
  *
  *  - `matchedDelete`: WHEN MATCHED [AND cond] THEN DELETE ("true" = every
  *    match). Evaluated BEFORE the update clause (the common
  *    delete-then-update clause order).
  *  - `matchedUpdate` [`matchedUpdateCond`]: WHEN MATCHED THEN UPDATE SET —
  *    target column -> expression.
  *  - `notMatchedInsert` [`notMatchedInsertCond`]: WHEN NOT MATCHED THEN
  *    INSERT — target column -> expression over the source; unlisted
  *    columns insert NULL.
  *  - `bySourceDelete`, `bySourceUpdate` [`bySourceUpdateCond`]:
  *    delta-spark's WHEN NOT MATCHED BY SOURCE (CDC reconciliation: target
  *    rows whose key vanished from the source get deleted or flagged).
  *    Source columns are NULL on such rows, so their conditions read
  *    target columns; delete is evaluated before update. */
case class MergeClauses(
    matchedUpdate: Option[Map[String, String]] = None,
    matchedDelete: Option[String] = None,
    notMatchedInsert: Option[Map[String, String]] = None,
    matchedUpdateCond: Option[String] = None,
    notMatchedInsertCond: Option[String] = None,
    bySourceDelete: Option[String] = None,
    bySourceUpdate: Option[Map[String, String]] = None,
    bySourceUpdateCond: Option[String] = None) {

  def anyMatched: Boolean = matchedUpdate.isDefined || matchedDelete.isDefined
  def anyBySource: Boolean = bySourceDelete.isDefined || bySourceUpdate.isDefined
  /** Some clause deletes or rewrites target rows (else: insert-only). */
  def rewrites: Boolean = anyMatched || anyBySource

  /** Refuses a MERGE without clauses or one that assigns a column
    * `schema` does not have. */
  def validate(schema: StructType): Unit = {
    require(rewrites || notMatchedInsert.isDefined,
      "MERGE: no clauses")
    DmlClauses.requireColumns("MERGE", schema,
      (matchedUpdate ++ bySourceUpdate ++ notMatchedInsert).flatMap(_.keys))
  }
}

private[sources] object DmlClauses {

  /** A DML condition as a filter: rows where it is NULL stay untouched
    * (the SQL three-valued contract). */
  def nullIsFalse(condition: Column): Column =
    coalesce(condition.cast(BooleanType), lit(false))

  /** The UPDATE check: a non-empty SET naming only columns of `schema`. */
  def validateSet(schema: StructType, set: Map[String, Column]): Unit = {
    require(set.nonEmpty, "UPDATE: empty SET clause")
    requireColumns("UPDATE", schema, set.keys)
  }

  def requireColumns(verb: String, schema: StructType,
                     names: Iterable[String]): Unit = {
    val bad = names.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty, s"$verb: unknown column(s) ${bad.mkString(", ")}")
  }

  /** The SET projection of UPDATE and MERGE on every format: each column
    * of `schema` takes the value of the first `(guard, set)` that assigns
    * it and whose guard holds (None: always), cast to the column's type;
    * otherwise `keep(column)`. */
  def assign(schema: StructType, sets: Seq[(Option[Column], Map[String, Column])],
             keep: StructField => Column = f => col(f.name)): Seq[Column] =
    schema.fields.toSeq.map { f =>
      sets.foldRight(keep(f)) { case ((guard, set), rest) =>
        set.get(f.name).map(_.cast(f.dataType)).fold(rest)(v =>
          guard.fold(v)(g => when(g, v).otherwise(rest)))
      }.as(f.name)
    }
}

/** One MERGE planned against a target schema. Each writer supplies its
  * own target frames (Delta's affected files, Iceberg's visible rows or
  * raw (file, pos) scan, Paimon's visible rows) and its own commit; the
  * clause logic lives here. The source is persisted once (unless the
  * caller already cached it), so every join reads one evaluation of it —
  * a nondeterministic source must not delete one sample of target rows
  * and write new versions for another. Call [[release]] when done. */
private[sources] final class MergePlan private (clauses: MergeClauses,
    schema: StructType, val src: DataFrame, val on: Column,
    tAlias: String, sAlias: String) {
  import DmlClauses._

  private var cached = List.empty[DataFrame]

  /** Persists `df` until [[release]]. */
  def cache(df: DataFrame): DataFrame = { cached ::= df.persist(); df }

  /** Unpersists everything [[cache]]d, the source included. */
  def release(): Unit = cached.foreach(_.unpersist())

  /** `target` LEFT OUTER JOIN source: each target row once per matching
    * source row, or once with NULL source columns; `__g_match` marks the
    * matched ones. */
  def joined(target: DataFrame): DataFrame =
    target.as(tAlias).join(src.withColumn("__g_match", lit(true)).as(sAlias),
      on, "left_outer")

  private def holds(cond: Option[String]): Column =
    cond.fold(lit(true))(c => nullIsFalse(expr(c)))
  private def clause(present: Boolean, scope: Column,
                     cond: Option[String]): Column =
    if (present) scope && holds(cond) else lit(false)
  private val isMatch = coalesce(col("__g_match"), lit(false))
  private val matchedDel =
    clause(clauses.matchedDelete.isDefined, isMatch, clauses.matchedDelete)
  private val matchedUpd = clause(clauses.matchedUpdate.isDefined,
    isMatch && !matchedDel, clauses.matchedUpdateCond)
  private val bySourceDel =
    clause(clauses.bySourceDelete.isDefined, !isMatch, clauses.bySourceDelete)
  private val bySourceUpd = clause(clauses.bySourceUpdate.isDefined,
    !isMatch && !bySourceDel, clauses.bySourceUpdateCond)

  /** A [[joined]] row some delete clause removes. */
  val deleted: Column = matchedDel || bySourceDel
  /** A [[joined]] row some update clause rewrites. */
  val updated: Column = matchedUpd || bySourceUpd

  /** (updated, deleted) rows of a [[joined]] frame, in one job (none
    * for an insert-only MERGE). */
  def counts(j: DataFrame): (Long, Long) =
    if (!clauses.rewrites) (0L, 0L)
    else {
      val r = j.agg(count(when(updated, 1)), count(when(deleted, 1))).head()
      (r.getLong(0), r.getLong(1))
    }

  /** With a matched clause, refuses a target row that matches more than
    * one source row — applying two updates to one row is nondeterministic
    * (delta-spark's check). `ident` are the row-identity columns of the
    * [[joined]] frame `j`. */
  def requireSingleMatch(j: => DataFrame, ident: Seq[Column]): Unit =
    if (clauses.anyMatched) {
      val multi = j.groupBy(ident: _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(multi == 0,
        "MERGE: a target row matched multiple source rows — the update " +
          "is nondeterministic (same check as delta-spark)")
    }

  private def targetCol(f: StructField): Column = col(s"$tAlias.${f.name}")
  private def values(set: Option[Map[String, String]]): Map[String, Column] =
    set.getOrElse(Map.empty).map { case (c, e) => c -> expr(e) }

  /** The target columns of a [[joined]] row. */
  def targetRow: Seq[Column] = schema.fields.toSeq.map(f => targetCol(f).as(f.name))

  /** A [[joined]] row after the update clauses: the SET of the clause
    * that rewrites it, its target columns otherwise. */
  def newVersion: Seq[Column] =
    assign(schema, Seq(Some(matchedUpd) -> values(clauses.matchedUpdate),
      Some(bySourceUpd) -> values(clauses.bySourceUpdate)), targetCol)

  /** NOT MATCHED inserts: source rows without a match in `against` that
    * pass the insert condition, projected onto the target schema. */
  def inserts(against: DataFrame): Option[DataFrame] =
    clauses.notMatchedInsert.map { set =>
      src.as(sAlias).join(against.as(tAlias), on, "left_anti")
        .filter(holds(clauses.notMatchedInsertCond))
        .select(assign(schema, Seq(None -> values(Some(set))),
          f => lit(null).cast(f.dataType)): _*)
    }
}

private[sources] object MergePlan {
  /** Validates `clauses` against `schema` and caches `source`, unless
    * the caller already has. */
  def apply(clauses: MergeClauses, schema: StructType, source: DataFrame,
            on: String, tAlias: String, sAlias: String): MergePlan = {
    clauses.validate(schema)
    val plan = new MergePlan(clauses, schema, source, expr(on), tAlias, sAlias)
    if (source.storageLevel == StorageLevel.NONE) plan.cache(source)
    plan
  }
}
