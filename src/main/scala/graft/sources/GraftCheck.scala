package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BindReferences, EqualNullSafe, Expression, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}

/** Write-time CHECK constraints (Delta's `ALTER TABLE ADD CONSTRAINT
  * CHECK` re-expressed as durable table properties — the reference's
  * alert store declares its own column constraints in DDL,
  * covid_alerts_dag.py:18-27, and a lakehouse table needs the same
  * write-time contract).
  *
  * A constraint is a table property `constraints.check.<name> = <sql
  * boolean expression>`. Semantics are standard SQL CHECK: a row
  * violates only when the expression evaluates to FALSE — NULL
  * (unknown) passes, exactly like Delta and the SQL standard.
  *
  * Enforcement points (every row-ingest surface):
  *  - the hive-layout task writers ([[GraftCatalog.PartitionedCowWriter]])
  *    — batch appends and full replaces, dynamic partition
  *    overwrites, streaming epochs (append / complete / both upsert
  *    modes), and copy-on-write row-level rewrites (so an UPDATE or
  *    MERGE cannot write a violating row either). Constraints resolve
  *    once per task against the write's row schema; a constraint whose
  *    columns are absent from a partial-row write (positional delete
  *    rows) is vacuously satisfied — deletes cannot violate a CHECK;
  *  - additionally the object API ([[graft.runtime.Catalog]]
  *    .append/createOrReplace), where the input DataFrame is first
  *    filtered through [[CheckConstraintExpr]] — a
  *    codegen'd predicate that THROWS on violation, so the guard rides
  *    the write's own pass over the rows (no second scan, and a
  *    Filter node is never pruned away).
  *
  * DDL contract: setting a constraint validates the expression against
  * the table schema (boolean, deterministic, no subqueries, columns
  * exist) AND — Delta's ADD CONSTRAINT rule — scans the EXISTING rows,
  * refusing if any violates (one bounded probe: `WHERE NOT coalesce(
  * expr, true) LIMIT 1`). Violations at write time fail the write
  * loudly with the constraint's name and SQL; nothing is committed.
  */
private[graft] object GraftCheck {

  val PropPrefix = "constraints.check."

  final case class Constraint(name: String, sql: String)

  /** One resolved-and-bound constraint for a specific row schema. */
  final case class Bound(name: String, sql: String, expr: Expression)

  def isCheckKey(k: String): Boolean =
    k.startsWith(PropPrefix) && k.length > PropPrefix.length

  /** Internal keys that back a schema-level NOT NULL flag — removing
    * one must go through ALTER COLUMN ... DROP NOT NULL (which also
    * relaxes the schema), never a bare UNSET TBLPROPERTIES.
    */
  def isNotNullKey(k: String): Boolean =
    k.startsWith(PropPrefix + "__not_null_")

  def constraintsOf(props: Map[String, String]): Seq[Constraint] =
    props.toSeq.collect {
      case (k, v) if isCheckKey(k) => Constraint(k.stripPrefix(PropPrefix), v)
    }.sortBy(_.name)

  def violation(name: String, sql: String, row: String): Nothing =
    throw new IllegalArgumentException(
      s"CHECK constraint '$name' violated: ($sql) is false for row $row")

  /** Parse + analyze `sql` against `schema`; refuse non-boolean,
    * nondeterministic, or subquery-carrying expressions. Returns the
    * ANALYZED condition bound to the schema's attribute order.
    */
  def resolve(spark: SparkSession, schema: StructType, c: Constraint)
      : Expression = {
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(c.sql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint '${c.name}': cannot parse (${c.sql}): " +
          e.getMessage) }
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    // analyze under a PROJECT (any type admitted) so the boolean check
    // below is ours — a Filter would fail analysis first with a plan
    // dump instead of a usable message
    val alias = org.apache.spark.sql.catalyst.expressions.Alias(
      parsed, "__check__")()
    val analyzed =
      try spark.sessionState.executePlan(
          org.apache.spark.sql.catalyst.plans.logical.Project(
            Seq(alias), LocalRelation(attrs))).analyzed
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint '${c.name}': (${c.sql}) does not resolve " +
          s"against the table schema: ${e.getMessage}") }
    val cond = analyzed.collectFirst {
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        pr.projectList.head match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case other => other
        }
    }.getOrElse(throw new IllegalArgumentException(
      s"CHECK constraint '${c.name}': (${c.sql}) does not analyze to a " +
        "row-level expression (aggregates and generators are not " +
        "CHECK constraints)"))
    require(cond.dataType == BooleanType,
      s"CHECK constraint '${c.name}': (${c.sql}) is " +
        s"${cond.dataType.simpleString}, not boolean")
    require(cond.deterministic,
      s"CHECK constraint '${c.name}': (${c.sql}) is nondeterministic")
    require(cond.collectFirst {
        case p: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          p
      }.isEmpty,
      s"CHECK constraint '${c.name}': (${c.sql}) carries a subquery")
    val bound = BindReferences.bindReference(cond, attrs)
    // current_timestamp()/current_date() survive analysis as
    // Unevaluable placeholders (the optimizer stamps them per query) —
    // a guard predicate would crash at the first row instead of
    // checking it; refuse at DDL time (checked AFTER binding:
    // attributes are unevaluable only until they become bound refs)
    val queryTime = Set("CurrentTimestamp", "CurrentDate", "Now",
      "LocalTimestamp", "CurrentTimeZone", "CurrentBatchTimestamp")
    require(bound.collectFirst {
        case u: org.apache.spark.sql.catalyst.expressions.Unevaluable => u
        case e if queryTime.contains(e.getClass.getSimpleName) => e
      }.isEmpty,
      s"CHECK constraint '${c.name}': (${c.sql}) uses an expression " +
        "that is stamped per QUERY (current_timestamp, current_date, " +
        "...) — a CHECK must mean the same thing for every write")
    bound
  }

  /** Resolve every constraint against a WRITE schema, leniently: a
    * constraint referencing a column the write does not carry is
    * skipped (partial-row writes are positional deletes — they cannot
    * violate a CHECK).
    */
  def bindLenient(spark: SparkSession, writeSchema: StructType,
      cs: Seq[Constraint]): Seq[Bound] =
    cs.flatMap { c =>
      // skip ONLY the intended case — a referenced top-level column the
      // write does not carry; any other resolve failure (type drift
      // after widening, analysis regression) must throw, or the CHECK
      // is silently un-enforced on that write with no signal
      val names = writeSchema.fieldNames.map(_.toLowerCase).toSet
      val missingCol =
        try {
          spark.sessionState.sqlParser.parseExpression(c.sql).collectFirst {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute
                if !names.contains(a.nameParts.head.toLowerCase) => a
          }.isDefined
        } catch { case _: Exception => false } // unparseable → resolve throws
      if (missingCol) None
      else Some(Bound(c.name, c.sql, resolve(spark, writeSchema, c)))
    }

  /** Per-task row guard: evaluates each bound constraint, throwing on
    * FALSE (NULL passes). One codegen'd predicate per constraint,
    * compiled once per task.
    */
  final class RowGuard(bounds: Seq[Bound], schema: StructType,
      offset: Int = 0) {
    // violation test: expr <=> false — true exactly when the check is
    // a definite FALSE (BasePredicate would fold NULL into false,
    // inverting the SQL unknown-passes rule)
    private val preds: Array[(Bound, BasePredicate)] = bounds.map { b =>
      (b, Predicate.create(EqualNullSafe(b.expr, Literal(false, BooleanType))))
    }.toArray

    def check(row: InternalRow): Unit = {
      var i = 0
      while (i < preds.length) {
        val (b, p) = preds(i)
        if (p.eval(row)) {
          val rendered = schema.fields.indices.map { j =>
            val v = if (row.isNullAt(j + offset)) "null"
            else row.get(j + offset, schema.fields(j).dataType)
            s"${schema.fields(j).name}=$v"
          }.mkString("(", ", ", ")")
          violation(b.name, b.sql, rendered)
        }
        i += 1
      }
    }

    def isEmpty: Boolean = preds.isEmpty
  }

  /** Shift every bound reference by `by` ordinals — replacement rows
    * can arrive prefixed with Spark's `__row_operation` column, moving
    * every data column one slot right.
    */
  def shift(bounds: Seq[Bound], by: Int): Seq[Bound] =
    if (by == 0) bounds
    else bounds.map { b =>
      b.copy(expr = b.expr.transform {
        case r: org.apache.spark.sql.catalyst.expressions.BoundReference =>
          r.copy(ordinal = r.ordinal + by)
      })
    }

  /** DRIVER-side resolution for the hive-layout writers: read the
    * table's constraints and bind them against the write's row schema.
    * The bound expressions ship to tasks inside the writer factory
    * (Expressions serialize; Predicate.create compiles per task) — an
    * executor never needs a SparkSession or a parser.
    */
  def boundFor(spark: SparkSession,
      conf: org.apache.hadoop.conf.Configuration,
      tableDir: String, writeSchema: StructType): Seq[Bound] = {
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(conf)
    // lenient binding: the constraints were validated against the
    // TABLE schema at DDL time, so the only new failure mode here is
    // a column the WRITE does not carry (partial-row delta writes) —
    // such a constraint is vacuously satisfied by that write
    bindLenient(spark, writeSchema, constraintsOf(
      GraftTableMeta.read(fs, dir).props))
  }

  /** DataFrame-level guard for the object-API paths: a Filter of
    * [[CheckConstraintExpr]]s — always true unless a row violates, in
    * which case the task throws. Riding a Filter keeps the guard on
    * the write's own row pass and out of reach of column pruning.
    */
  def guard(df: DataFrame, cs: Seq[Constraint]): DataFrame =
    if (cs.isEmpty) df
    else {
      val spark = df.sparkSession
      val conds = cs.map { c =>
        val parsed = spark.sessionState.sqlParser.parseExpression(c.sql)
        org.apache.spark.sql.graft.ColumnBridge.column(
          CheckConstraintExpr(parsed, c.name, c.sql)): Column
      }
      df.filter(conds.reduceLeft(_ && _))
    }

  /** Constraints stored at a table dir (for the object-API guard,
    * which cannot see the sources-private meta reader).
    */
  def constraintsAt(conf: org.apache.hadoop.conf.Configuration,
      tableDir: String): Seq[Constraint] = {
    val dir = new org.apache.hadoop.fs.Path(tableDir)
    val fs = dir.getFileSystem(conf)
    constraintsOf(GraftTableMeta.read(fs, dir).props)
  }

  /** Column names a constraint references (for the DDL refusals: a
    * DROP or RENAME of a referenced column would silently un-enforce
    * the constraint on future writes).
    */
  def referencedCols(spark: SparkSession, schema: StructType,
      c: Constraint): Set[String] = {
    val bound = resolve(spark, schema, c)
    bound.collect {
      case r: org.apache.spark.sql.catalyst.expressions.BoundReference =>
        schema.fields(r.ordinal).name.toLowerCase
    }.toSet
  }

  /** The ADD CONSTRAINT existing-rows probe (Delta's rule): one bounded
    * scan for a violating row; refuse the DDL if one exists.
    */
  def validateExisting(df: DataFrame, c: Constraint): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val bad = df.where(not(coalesce(expr(c.sql), lit(true)))).limit(1)
      .collect()
    require(bad.isEmpty,
      s"cannot add CHECK constraint '${c.name}': (${c.sql}) is violated " +
        s"by an existing row ${bad.headOption.getOrElse("")} — fix the " +
        "data first")
  }
}

/** Boolean predicate that is TRUE unless its child is a definite FALSE
  * — then it THROWS the constraint violation. Codegen'd so the guard
  * stays inside whole-stage codegen on the object-API write paths.
  */
private[graft] case class CheckConstraintExpr(child: Expression,
    name: String, checkSql: String)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Predicate {

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BooleanType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"CHECK constraint '$name': ($checkSql) is " +
          s"${child.dataType.simpleString}, not boolean")

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v != null && v == false)
      GraftCheck.violation(name, checkSql, "(see failing task)")
    true
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val nameRef = ctx.addReferenceObj("ckName", name, "java.lang.String")
    val sqlRef = ctx.addReferenceObj("ckSql", checkSql, "java.lang.String")
    ev.copy(code =
      code"""
        ${c.code}
        if (!${c.isNull} && !${c.value}) {
          graft.sources.GraftCheck.violation($nameRef, $sqlRef,
            "(see failing task)");
        }
        boolean ${ev.value} = true;
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): CheckConstraintExpr = copy(child = newChild)
}
