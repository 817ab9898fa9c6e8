package graft.runtime

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, EqualTo, Expression => CatalystExpr}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, count => fcount, expr, lit, greatest, least, max => fmax, min => fmin, sum => fsum, when}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.sources.{GraftCatalog, GraftCommits}

/** MATERIALIZED VIEWS over the incremental-maintenance tier (r15
  * verdict item 8, widened in r17 — Delta's materialized views /
  * Iceberg-Trino MVs, wired through the same parser seam as the V2
  * views ([[GraftViewRules]]); the incremental fold is the q174
  * counting-IVM shape driven by the base tables' OWN change feeds):
  *
  *  - `CREATE MATERIALIZED VIEW cat.ns.mv AS <agg query>` validates
  *    the body is INCREMENTALLY MAINTAINABLE — ONE graft base table or
  *    one INNER equi-join of TWO graft tables (the mart fact⋈dim
  *    shape, process_covid_data_mart.py:51-115), optional
  *    deterministic row filter, GROUP BY plain columns, SUM(<integral
  *    expr>) / COUNT(*) / COUNT(col) / MIN / MAX measures with at
  *    least one COUNT(*) (the group-liveness counter every
  *    counting-IVM scheme needs) — then builds the backing table,
  *    PARTITIONED BY the directory-renderable group keys so the
  *    refresh's MERGE rewrites only touched groups' partitions, and
  *    records the definition + each base's commit position + journal
  *    incarnation identity in a `_graft_mv` sidecar that lives in the
  *    sibling `<name>.__mv/` directory (OUTSIDE the backing dir, so a
  *    full refresh's CREATE OR REPLACE cannot drop it — ADVICE r16).
  *  - `CALL system.refresh_materialized_view(table => 'ns.mv')` reads
  *    ONLY each base's changes above its recorded position (`.changes`
  *    with exact `_change_epoch` bounds — the refresh costs the
  *    CHANGE, never the base), folds the signed delta per group
  *    (insert/update_postimage +1, delete/update_preimage −1; join
  *    bodies use the standard two-sided rule
  *    ΔF⋈D_new + F_new⋈ΔD − ΔF⋈ΔD with sign products), and MERGEs the
  *    per-group delta into the backing — the engine's own group-based
  *    copy-on-write, so the WRITE side costs the touched groups, not
  *    the view (r16 verdict item 3). Groups whose liveness count
  *    reaches zero DELETE. MIN/MAX fold incrementally on inserts
  *    (least/greatest against the stored value) and rescan ONLY the
  *    groups whose extremal value may have been deleted
  *    (rescan-on-invalidation, r16 verdict item 7). `full => true`
  *    recomputes from the stored SQL (the re-bootstrap path when the
  *    feed's retention horizon passed the MV's position — that read
  *    refuses loudly).
  *
  * Identity and axis guards (ADVICE r16 high/medium): the sidecar
  * records each base journal's INCARNATION identity (first retained
  * record's ts-id, the exact [[graft.sources.GraftChanges]] feedId
  * contract) — a drop and re-create restarts commit ids at 0, and
  * without the identity the fold would silently no-op against stale
  * positions and then skip renumbered history. Both CREATE and refresh
  * also require each base to be in JOURNAL-AXIS feed mode (a
  * batch-visible record or a checkpoint's batch flag): on a
  * stream-only base `_change_epoch` is the per-tag STREAM epoch axis
  * while positions here are journal ids — folding across mismatched
  * axes would select wrong rows silently.
  *
  * Equality-upsert feed rows (`upsert`) are KEYED, not additive — the
  * fold refuses them at read time (`raise_error` in the sign column)
  * rather than folding a wrong count.
  */
object GraftMaterializedViews {

  private val SidecarName = "_graft_mv"

  // Spark's parser has no MATERIALIZED VIEW productions at all — the
  // DDL is intercepted on the RAW SQL before delegation, the same
  // parser seam the V2 view DDL rides ([[GraftViewRules
  // .GraftViewAwareParser]]).
  private val CreateRe =
    """(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?MATERIALIZED\s+VIEW\s+([`\w.]+)\s+AS\s+(.+)""".r
  private val DropRe =
    """(?is)\s*DROP\s+MATERIALIZED\s+VIEW\s+((?:IF\s+EXISTS\s+)?)([`\w.]+)\s*;?\s*""".r

  /** MATERIALIZED VIEW DDL on a graft catalog target, or None =
    * delegate (non-MV statements; MV syntax on a foreign catalog also
    * falls through and fails in the stock parser — loud, not silent).
    */
  def parseDdl(session: SparkSession, sqlText: String,
      delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    sqlText match {
      case CreateRe(orReplace, ident, body) =>
        delegate.parseMultipartIdentifier(ident) match {
          case Seq(cat, ns, name)
              if GraftViewRules.graftCatalog(session, cat).isDefined =>
            Some(GraftCreateMaterializedViewCommand(cat, ns, name,
              body.trim, orReplace != null))
          case _ => None
        }
      case DropRe(ifExists, ident) =>
        delegate.parseMultipartIdentifier(ident) match {
          case Seq(cat, ns, name)
              if GraftViewRules.graftCatalog(session, cat).isDefined =>
            Some(GraftDropMaterializedViewCommand(cat, ns, name,
              ifExists.trim.nonEmpty))
          case _ => None
        }
      case _ => None
    }

  final case class GraftCreateMaterializedViewCommand(cat: String,
      ns: String, name: String, bodySql: String, replace: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
      create(spark, cat, ns, name, bodySql, replace)
      Nil
    }
  }

  /** DROP drops the backing table AND the sibling `<name>.__mv`
    * definition dir — the sidecar no longer lives inside the table
    * dir, so a plain DROP TABLE would orphan it.
    */
  final case class GraftDropMaterializedViewCommand(cat: String,
      ns: String, name: String, ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
    override def run(spark: SparkSession): Seq[org.apache.spark.sql.Row] = {
      val ie = if (ifExists) "IF EXISTS " else ""
      spark.sql(s"DROP TABLE $ie`$cat`.`$ns`.`$name`")
      val dir = backingDir(spark, cat, ns, name)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.delete(sideDir(dir), true)
      catch { case NonFatal(_) => () }
      Nil
    }
  }

  /** (output name, kind: "sum" | "count" | "min" | "max",
    * measure-input SQL — rendered over bare column names for
    * single-table bodies, `_f_`/`_d_`-prefixed names for join bodies).
    */
  final case class Measure(out: String, kind: String, exprSql: String)

  /** A group key: the OUTPUT column name (the backing table's column)
    * and the SOURCE column name (what the change feed carries —
    * prefixed in join mode) — they differ when the body aliases a
    * group column.
    */
  final case class Key(out: String, src: String)

  /** The join body's second (dim) side: its source ident, recorded
    * feed position, journal identity, and the equi-join column pairs
    * (fact col, dim col) — raw unprefixed names per side.
    */
  final case class DimSide(source: String, lastCommit: Long,
      feedId: String, joinKeys: Seq[(String, String)])

  final case class MvMeta(sql: String, source: String, keys: Seq[Key],
      measures: Seq[Measure], filter: Option[String], lastCommit: Long,
      feedId: String = "", dim: Option[DimSide] = None)

  private def b64(s: String): String = java.util.Base64.getEncoder
    .encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** The sibling state dir `<parent>/<name>.__mv/` — survives the
    * full-refresh CREATE OR REPLACE of the backing dir (ADVICE
    * r16 low); its `.__` infix keeps it out of namespace listings. The
    * refresh lock is the sibling FILE `<name>.__mv.__lock` (the
    * [[graft.sources.GraftCommitLock]] path of this dir).
    */
  private def sideDir(dir: Path): Path =
    new Path(dir.getParent, dir.getName + ".__mv")

  private def metaPath(dir: Path): Path =
    new Path(sideDir(dir), SidecarName)
  private def legacyMetaPath(dir: Path): Path = new Path(dir, SidecarName)
  private def pendingPath(dir: Path): Path =
    new Path(sideDir(dir), SidecarName + ".pending")
  private def legacyPendingPath(dir: Path): Path =
    new Path(dir, SidecarName + ".pending")

  def writeMeta(fs: FileSystem, dir: Path, m: MvMeta): Unit = {
    val sb = new StringBuilder
    // header keeps the v1 tag (readers require >= 4 fields); the feed
    // identity rides as a 5th field legacy parsers ignore
    sb.append(s"v1\t${b64(m.sql)}\t${b64(m.source)}\t${m.lastCommit}" +
      s"\t${b64(m.feedId)}\n")
    m.keys.foreach(k => sb.append(s"K\t${b64(k.out)}\t${b64(k.src)}\n"))
    m.measures.foreach(ms =>
      sb.append(s"M\t${b64(ms.out)}\t${ms.kind}\t${b64(ms.exprSql)}\n"))
    m.filter.foreach(f => sb.append(s"W\t${b64(f)}\n"))
    m.dim.foreach { d =>
      sb.append(s"J\t${b64(d.source)}\t${d.lastCommit}\t${b64(d.feedId)}\n")
      d.joinKeys.foreach { case (fc, dc) =>
        sb.append(s"JK\t${b64(fc)}\t${b64(dc)}\n")
      }
    }
    // atomic replace (the journal-checkpoint pattern): a crash
    // mid-write must never leave a truncated sidecar — the definition
    // IS the view's recoverability
    val fin = metaPath(dir)
    fs.mkdirs(fin.getParent)
    val tmp = new Path(fin.getParent, "." + fin.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(sb.toString.getBytes("UTF-8")) finally out.close()
    graft.sources.GraftDv.replaceAtomic(fs, tmp, fin)
    // a pre-r17 sidecar inside the backing dir is superseded
    try fs.delete(legacyMetaPath(dir), false)
    catch { case NonFatal(_) => () }
  }

  def readMeta(fs: FileSystem, dir: Path): Option[MvMeta] = {
    val p = Seq(metaPath(dir), legacyMetaPath(dir)).find(fs.exists(_))
      .getOrElse(return None)
    val in = fs.open(p)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    val hdr = lines.head.split('\t')
    require(hdr.length >= 4 && hdr(0) == "v1", s"bad MV sidecar at $p")
    val keys = Seq.newBuilder[Key]
    val measures = Seq.newBuilder[Measure]
    var filter: Option[String] = None
    var dimSrc: Option[(String, Long, String)] = None
    val joinKeys = Seq.newBuilder[(String, String)]
    lines.tail.foreach { ln =>
      val f = ln.split('\t')
      f(0) match {
        case "K" =>
          val out = unb64(f(1))
          keys += Key(out, if (f.length > 2) unb64(f(2)) else out)
        case "M" => measures += Measure(unb64(f(1)), f(2), unb64(f(3)))
        case "W" => filter = Some(unb64(f(1)))
        case "J" => dimSrc = Some((unb64(f(1)), f(2).toLong,
          // split drops trailing empty fields: a dim with no journal
          // yet records feedId "" — 3 fields, not 4
          if (f.length > 3) unb64(f(3)) else ""))
        case "JK" => joinKeys += ((unb64(f(1)), unb64(f(2))))
        case other =>
          throw new IllegalStateException(s"bad MV sidecar tag '$other'")
      }
    }
    Some(MvMeta(unb64(hdr(1)), unb64(hdr(2)), keys.result(),
      measures.result(), filter, hdr(3).toLong,
      feedId = if (hdr.length > 4) unb64(hdr(4)) else "",
      dim = dimSrc.map { case (s, c, fid) =>
        DimSide(s, c, fid, joinKeys.result())
      }))
  }

  // ---- maintainability extraction ----------------------------------------

  /** Extremal measures need a SCALAR ordered type (arrays/structs
    * order too, but least/greatest + the MERGE SET must stay simple).
    */
  private def orderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.MapType => false
      case other =>
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(other)
    }

  private def refuse(why: String): Nothing =
    throw new IllegalArgumentException(
      s"CREATE MATERIALIZED VIEW: the query is not incrementally " +
        s"maintainable — $why. Maintainable shape: SELECT <group " +
        "columns>, COUNT(*), SUM(<integral expr>)/MIN/MAX... FROM <one " +
        "graft table, or an INNER equi-join of two graft tables> " +
        "[WHERE <row filter>] GROUP BY <group columns>, with at least " +
        "one COUNT(*) (the group-liveness counter)")

  /** One join side resolved to its graft relation: (quoted source
    * ident, table dir string, the side's output attribute set).
    */
  final case class Side(ident: String, dir: String,
      output: Seq[Attribute])

  /** Everything extract produces: the fact side, the optional dim
    * side + equi pairs, keys, measures, filter (all expression SQL
    * rendered bare for single-table bodies, side-prefixed for joins).
    */
  final case class Extracted(fact: Side, dim: Option[Side],
      joinKeys: Seq[(String, String)], keys: Seq[Key],
      measures: Seq[Measure], filter: Option[String],
      keyTypes: Seq[org.apache.spark.sql.types.DataType])

  private def resolveSide(p: LogicalPlan): Option[Side] = p match {
    case SubqueryAlias(_, c) => resolveSide(c)
    case Project(exprs, c) if exprs.forall(_.isInstanceOf[Attribute]) =>
      resolveSide(c)
    case r: DataSourceV2Relation => (r.catalog, r.identifier) match {
      case (Some(c: GraftCatalog), Some(id)) =>
        val ident = (c.name +: id.namespace.toSeq :+ id.name)
          .map(s => s"`$s`").mkString(".")
        val root = org.apache.spark.sql.SparkSession.active.conf
          .get(s"spark.sql.catalog.${c.name}.root")
        Some(Side(ident,
          s"$root/${id.namespace.mkString("/")}/${id.name}", r.output))
      case _ => None
    }
    case _ => None
  }

  /** Extract the maintainable shape from the ANALYZED body, refusing
    * loudly on anything the counting-IVM fold cannot maintain.
    */
  def extract(spark: SparkSession, analyzed: LogicalPlan): Extracted = {
    def stripAlias(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, c) => stripAlias(c)
      case other => other
    }
    val agg = analyzed match {
      case a: Aggregate => a
      case Project(pl, inner)
          if stripAlias(inner).isInstanceOf[Aggregate] =>
        val a = stripAlias(inner).asInstanceOf[Aggregate]
        // the outer SELECT must be a trivial attribute-only
        // permutation of the aggregate's output (ADVICE r16 low): a
        // projection that drops, renames, or recomputes outputs would
        // record keys/measures that do not match the backing schema —
        // refuse HERE, not as a confusing refresh-time mismatch
        val outIds = a.output.map(_.exprId)
        val plIds = pl.collect { case ar: AttributeReference => ar.exprId }
        if (plIds.length != pl.length || plIds.sorted(Ordering.by((e:
            org.apache.spark.sql.catalyst.expressions.ExprId) => e.id))
              .map(_.id) != outIds.map(_.id).sorted)
          refuse("the outer SELECT must select the aggregate's outputs " +
            "directly (attribute-only, no rename/drop/recompute)")
        a
      case _ => refuse("the top-level operator is not a GROUP BY " +
        "aggregate")
    }
    // walk to the base relation(s), collecting the row filter
    var filter: Option[CatalystExpr] = None
    var join: Option[Join] = None
    def leaf(p: LogicalPlan): Side = p match {
      case SubqueryAlias(_, c) => leaf(c)
      case Filter(cond, c) =>
        if (!cond.deterministic) refuse("the WHERE clause is " +
          "nondeterministic")
        if (filter.isDefined) refuse("multiple filter layers")
        filter = Some(cond)
        leaf(c)
      case Project(exprs, c) if exprs.forall(_.isInstanceOf[Attribute]) =>
        leaf(c)
      case j: Join =>
        if (join.isDefined) refuse("more than one join")
        if (j.joinType != org.apache.spark.sql.catalyst.plans.Inner)
          refuse(s"${j.joinType.sql} joins are unsupported (INNER " +
            "equi-joins only)")
        join = Some(j)
        resolveSide(j.left).getOrElse(refuse(
          "the join's left side is not a plain graft catalog table"))
      case r: DataSourceV2Relation =>
        resolveSide(r).getOrElse(refuse(
          "the base relation is not a graft catalog table"))
      case other => refuse(s"operator ${other.nodeName} between the " +
        "aggregate and the base table")
    }
    val fact = leaf(agg.child)
    val dim = join.map { j =>
      val d = resolveSide(j.right).getOrElse(refuse(
        "the join's right side is not a plain graft catalog table"))
      if (d.dir == fact.dir) refuse("self-joins are unsupported (the " +
        "two sides need independent change positions)")
      d
    }
    val factIds = fact.output.map(_.exprId).toSet
    val dimIds = dim.map(_.output.map(_.exprId).toSet)
      .getOrElse(Set.empty[org.apache.spark.sql.catalyst.expressions.ExprId])
    // equi pairs from the join condition (conjunction of col = col
    // across sides; anything else refuses)
    def conjuncts(e: CatalystExpr): Seq[CatalystExpr] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val joinKeys: Seq[(String, String)] = join match {
      case None => Nil
      case Some(j) =>
        val cond = j.condition.getOrElse(refuse(
          "the join has no condition (cross joins are unsupported)"))
        conjuncts(cond).map {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if factIds(a.exprId) && dimIds(b.exprId) => (a.name, b.name)
          case EqualTo(b: AttributeReference, a: AttributeReference)
              if factIds(a.exprId) && dimIds(b.exprId) => (a.name, b.name)
          case other => refuse(s"join condition `${other.sql}` is not " +
            "a cross-side column equality")
        }
    }
    // re-rendered expressions must resolve against the CHANGE-FEED
    // frames later: bare column names for single-table bodies;
    // `_f_`/`_d_` side prefixes for joins (two tables may share
    // column names — the prefix is the disambiguator)
    def renderSql(e: CatalystExpr): String =
      e.transform {
        case a: AttributeReference if join.isEmpty =>
          a.withQualifier(Seq.empty)
        case a: AttributeReference if factIds(a.exprId) =>
          a.withQualifier(Seq.empty).withName(s"_f_${a.name}")
        case a: AttributeReference if dimIds(a.exprId) =>
          a.withQualifier(Seq.empty).withName(s"_d_${a.name}")
        case a: AttributeReference => refuse(
          s"column `${a.name}` resolves to neither join side")
      }.sql
    def srcName(a: AttributeReference): String =
      if (join.isEmpty) a.name
      else if (factIds(a.exprId)) s"_f_${a.name}"
      else if (dimIds(a.exprId)) s"_d_${a.name}"
      else refuse(s"column `${a.name}` resolves to neither join side")
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case other => refuse(s"GROUP BY expression `${other.sql}` is not " +
        "a plain column")
    }
    val keys = Seq.newBuilder[Key]
    val keyTypes = Seq.newBuilder[org.apache.spark.sql.types.DataType]
    val measures = Seq.newBuilder[Measure]
    agg.aggregateExpressions.foreach {
      case a: AttributeReference
          if groupAttrs.exists(_.exprId == a.exprId) =>
        keys += Key(a.name, srcName(a))
        keyTypes += a.dataType
      case Alias(a: AttributeReference, nm)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        // aliased group column: the delta select reads the SOURCE name
        // from the change feed and emits it under the OUTPUT name
        keys += Key(nm, srcName(a))
        keyTypes += a.dataType
      case Alias(ae: AggregateExpression, nm) =>
        if (ae.isDistinct) refuse("DISTINCT aggregates are not additive")
        if (ae.filter.isDefined) refuse("FILTER'd aggregates are unsupported")
        ae.aggregateFunction match {
          case Sum(e, _) =>
            e.dataType match {
              case LongType | IntegerType | ShortType | ByteType => ()
              case other => refuse(s"SUM over ${other.simpleString} " +
                "(integral types only — the engine's exact-arithmetic " +
                "convention)")
            }
            measures += Measure(nm, "sum", renderSql(e))
          case Count(children) if children.forall(_.foldable) =>
            // COUNT(*) / COUNT(1): the row counter — liveness-eligible
            measures += Measure(nm, "count", "1")
          case Count(Seq(e)) =>
            // COUNT(col) skips NULLs — it is NOT a row count and must
            // not fold as one (the liveness counter stays COUNT(*));
            // additively it is SUM(col IS NOT NULL)
            measures += Measure(nm, "sum",
              s"(CASE WHEN (${renderSql(e)}) IS NOT NULL THEN 1 ELSE 0 END)")
          case _: Count =>
            refuse("multi-argument COUNT is unsupported")
          case Min(e) =>
            if (!orderable(e.dataType)) refuse(
              s"MIN over ${e.dataType.simpleString} is not orderable")
            measures += Measure(nm, "min", renderSql(e))
          case Max(e) =>
            if (!orderable(e.dataType)) refuse(
              s"MAX over ${e.dataType.simpleString} is not orderable")
            measures += Measure(nm, "max", renderSql(e))
          case other => refuse(s"aggregate ${other.prettyName} is not " +
            "additive under deletes (supported: SUM, COUNT, MIN, MAX)")
        }
      case other => refuse(s"output `${other.sql}` is neither a group " +
        "column nor a supported aggregate")
    }
    val ks = keys.result()
    // EVERY grouping column must be selected: a hidden grouping column
    // would make the incremental fold re-group the backing table at a
    // coarser granularity than the stored SQL
    if (ks.size != groupAttrs.size) refuse(
      "every GROUP BY column must appear in the SELECT list (a hidden " +
        "grouping column would collapse the view's granularity on fold)")
    val ms = measures.result()
    if (!ms.exists(_.kind == "count")) refuse(
      "no COUNT(*) measure — counting-IVM needs the liveness counter")
    if (ks.isEmpty && ms.exists(m => m.kind == "min" || m.kind == "max"))
      refuse("MIN/MAX measures need at least one group column (the " +
        "rescan-on-invalidation fold is group-scoped)")
    if (ks.isEmpty && dim.isDefined)
      refuse("keyless join bodies are unsupported (a global aggregate " +
        "over a join has no group-scoped fold) — add a GROUP BY")
    Extracted(fact, dim, joinKeys, ks, ms, filter.map(renderSql),
      keyTypes.result())
  }

  // ---- base-journal identity / axis guards --------------------------------

  /** Resolve a quoted `\`cat\`.\`ns\`.\`t\`` source ident to its table
    * dir (the catalog root conf is the same resolution the catalog
    * itself performs).
    */
  private def tableDirOf(spark: SparkSession, source: String): Path = {
    val parts = source.split('.').map(_.stripPrefix("`").stripSuffix("`"))
    require(parts.length >= 3, s"bad MV source ident $source")
    val root = spark.conf.get(s"spark.sql.catalog.${parts(0)}.root")
    new Path(s"$root/${parts.tail.mkString("/")}")
  }

  /** The base journal's incarnation identity — the first RETAINED
    * record's `ts-id`, the exact contract streaming changelog offsets
    * use ([[graft.sources.GraftChanges]] BatchFeed.feedId). "" = no
    * retained records (empty or never-journaled table).
    */
  private def feedIdentityOf(spark: SparkSession, source: String): String = {
    val dir = tableDirOf(spark, source)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one listStatus + one record read (the lowest id), not a parse of
    // the whole journal — this runs per refresh per source
    GraftCommits.firstRec(fs, dir)
      .map(r => s"${r.ts}-${r.id}").getOrElse("")
  }

  /** Axis guard (ADVICE r16 medium): positions recorded here are
    * JOURNAL commit ids, only comparable against a feed serving the
    * journal axis. A base with retained records but NO batch-visible
    * kind serves the per-tag STREAM epoch axis — refuse rather than
    * fold a wrong (pos, cur] selection silently. An EMPTY journal is
    * admitted (position −1 covers everything; the axis decides itself
    * at the first commit, and a stream-only first commit refuses at
    * the next refresh).
    */
  private def requireJournalAxis(spark: SparkSession, source: String,
      what: String): Unit = {
    val dir = tableDirOf(spark, source)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (ck, tail) = GraftCommits.load(fs, dir)
    val any = ck.nonEmpty || tail.nonEmpty
    val batch = ck.exists(_.batch) || tail.exists(_.batchVisible)
    require(!any || batch,
      s"$what: base table $source is not in journal-axis feed mode " +
        "(no batch-visible commit — its _change_epoch values are " +
        "stream-epoch positions, not journal commit ids); materialized " +
        "views maintain over batch-DML change history only")
  }

  /** Identity guard (ADVICE r16 high): a recorded position only means
    * anything against the journal incarnation that issued it — a drop
    * and re-create (CREATE OR REPLACE TABLE) restarts ids at 0 and a fold
    * against the stale position would first silently no-op, then skip
    * the renumbered history. "" recorded = the MV was built before the
    * base had any journal; every retained commit is above position −1,
    * so any current incarnation is the right one.
    */
  private def requireSameIncarnation(spark: SparkSession, source: String,
      recorded: String): Unit = {
    if (recorded.isEmpty) return
    val cur = feedIdentityOf(spark, source)
    require(cur == recorded,
      s"materialized-view refresh: the change history of $source was " +
        "replaced since this view's position was recorded (journal " +
        s"incarnation '$cur' != recorded '$recorded' — a drop and " +
        "re-create, or journal expiry past the first record); the " +
        "incremental fold cannot tell what was applied — re-run with " +
        "full => true to re-bootstrap")
  }

  /** Floor guard: a base commit that floors the feed (a full replace or
    * compact — its record ends row-level history) above the recorded
    * position hides changes the incremental fold would have to read.
    * Refuse with the re-bootstrap advice rather than let the feed's
    * generic bound-the-read refusal surface mid-fold.
    */
  private def requireAboveFloor(spark: SparkSession, source: String,
      pos: Long): Unit = {
    val dir = tableDirOf(spark, source)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (ck, tail) = GraftCommits.load(fs, dir)
    val floor = (ck.map(_.floor).getOrElse(-1L) +:
      tail.filter(_.isFloor).map(_.id)).max
    require(floor <= pos,
      s"materialized-view refresh: $source committed a full replace or " +
        s"compact (commit $floor) above this view's recorded position " +
        s"$pos; commits at or below $floor are no longer row-level " +
        "servable, so the incremental fold cannot apply them — re-run " +
        "with full => true to re-bootstrap")
  }

  // ---- create / refresh ---------------------------------------------------

  /** The base table's newest journal commit id (−1 on an empty
    * journal) — served from journal file NAMES ([[GraftCommits.lastId]],
    * one listStatus), not a SQL execution over the `.commits` relation:
    * this runs ~8-10× per refresh (position reads, stability
    * re-checks) and each `.commits` query paid full Catalyst planning
    * plus a whole-journal content read for a metadata-only question.
    */
  private def lastCommitOf(spark: SparkSession, source: String): Long = {
    val dir = tableDirOf(spark, source)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCommits.lastId(fs, dir)
  }

  private def backingDir(spark: SparkSession, cat: String, ns: String,
      name: String): Path = {
    val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
    new Path(s"$root/$ns/$name")
  }

  /** Build (or rebuild) the backing table at EXACT base positions:
    * read the positions, run the build, re-read — if any base moved in
    * between, the build's snapshot is ambiguous (the scan may or may
    * not contain the new commit) and the attempt retries; persistent
    * concurrent writes refuse loudly rather than record a position the
    * incremental fold would then skip or double-apply.
    */
  private def buildAtStablePositions(spark: SparkSession,
      sources: Seq[String], build: Int => Unit): Seq[Long] = {
    var attempts = 0
    while (attempts < 3) {
      val before = sources.map(lastCommitOf(spark, _))
      build(attempts)
      if (sources.map(lastCommitOf(spark, _)) == before) return before
      attempts += 1
    }
    throw new IllegalStateException(
      s"materialized view build: ${sources.mkString(", ")} is being " +
        "committed to concurrently (3 attempts) — quiesce the writer " +
        "or retry")
  }

  /** The backing CTAS's PARTITIONED BY clause: the prefix of group
    * keys whose type renders unambiguously as a directory value
    * (capped at two levels — the tested leaf-merge depth). A
    * partitioned backing is what makes the refresh MERGE group-scoped:
    * the engine's copy-on-write rewrites only the touched partitions
    * (leaf-narrowed to the touched KEY VALUES), so the write side
    * costs the CHANGED GROUPS, not the view (r16 verdict item 3).
    */
  private def partitionClause(keys: Seq[Key],
      keyTypes: Seq[org.apache.spark.sql.types.DataType]): String = {
    val cols = keys.zip(keyTypes).takeWhile { case (_, t) =>
      graft.sources.GraftPartitionedCow.dirRenderable(t)
    }.take(2).map { case (k, _) => s"`${k.out}`" }
    if (cols.isEmpty) "" else s"PARTITIONED BY (${cols.mkString(", ")}) "
  }

  def create(spark: SparkSession, cat: String, ns: String, name: String,
      bodySql: String, replace: Boolean): Unit = {
    val analyzed = spark.sessionState.executePlan(
      spark.sessionState.sqlParser.parsePlan(bodySql)).analyzed
    val ex = extract(spark, analyzed)
    val sources = ex.fact.ident +: ex.dim.map(_.ident).toSeq
    sources.foreach(requireJournalAxis(spark, _,
      "CREATE MATERIALIZED VIEW"))
    val backing = s"`$cat`.`$ns`.`$name`"
    val parts = partitionClause(ex.keys, ex.keyTypes)
    val poss = buildAtStablePositions(spark, sources, attempt => {
      // a retried build has already created the table: replace it
      val orReplace = if (replace || attempt > 0) "OR REPLACE " else ""
      spark.sql(s"CREATE ${orReplace}TABLE $backing ${parts}AS $bodySql")
      ()
    })
    val dir = backingDir(spark, cat, ns, name)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeMeta(fs, dir, MvMeta(bodySql, ex.fact.ident, ex.keys,
      ex.measures, ex.filter, poss.head,
      feedId = feedIdentityOf(spark, ex.fact.ident),
      dim = ex.dim.map(d => DimSide(d.ident, poss(1),
        feedIdentityOf(spark, d.ident), ex.joinKeys))))
  }

  /** Incremental (or `full`) refresh. Returns (change rows folded — −1
    * for a full recompute, the new fact-side position).
    *
    * Crash/concurrency posture: the incremental fold is NOT
    * idempotent (re-folding a delta double-counts), so the whole
    * refresh runs under the MV's refresh lock and brackets the backing
    * MERGE with a PENDING marker — a crash between the fold and the
    * position update leaves the marker, and the next incremental
    * refresh REFUSES loudly (full => true recomputes and clears it).
    * Never a silent double-fold, never a silent gap. Marker and
    * sidecar live in the sibling `<name>.__mv/` dir, OUTSIDE the
    * backing dir the full refresh replaces.
    */
  def refresh(spark: SparkSession, cat: String, ns: String, name: String,
      full: Boolean): (Long, Long) = {
    val dir = backingDir(spark, cat, ns, name)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var out: (Long, Long) = (0L, -1L)
    // a DISTINCT lock path (sibling `<name>.__mv.__lock`), not the
    // table's own commit lock: the backing MERGE/replace takes the
    // table lock itself inside this section, and GraftCommitLock is
    // not reentrant — this mutex serializes REFRESHES against each
    // other
    graft.sources.GraftCommitLock.withLock(fs, sideDir(dir),
      s"mv-refresh:$name") {
      out = refreshLocked(spark, fs, dir, cat, ns, name, full)
    }
    out
  }

  /** Null-safe key-equality condition between two frames' columns. */
  private def keyCond(l: DataFrame, lCols: Seq[String], r: DataFrame,
      rCols: Seq[String]): Column =
    lCols.zip(rCols).map { case (a, b) => l(a) <=> r(b) }
      .reduceOption(_ && _).getOrElse(lit(true))

  /** The signed change frame of one base in (pos, cur] — BOTH bounds
    * pushed exactly. The upper bound matters: a base commit landing
    * mid-refresh must not fold now (the recorded position would then
    * skip past it). Keyed `upsert` rows are not additive: refuse
    * mid-read.
    */
  private def changesOf(spark: SparkSession, source: String, pos: Long,
      cur: Long, filter: Option[String]): DataFrame = {
    val changes = spark.table(s"$source.changes")
      .where(col("_change_epoch") > pos && col("_change_epoch") <= cur)
    val sign = when(col("_change_type")
        .isin("delete", "update_preimage"), lit(-1L))
      .when(col("_change_type")
        .isin("insert", "update_postimage"), lit(1L))
      .otherwise(expr("CAST(raise_error('materialized-view refresh: " +
        "the change feed served a keyed upsert row — equality-upsert " +
        "history is not additive; use full => true') AS BIGINT)"))
    val signed = changes.withColumn("__sign", sign)
      .drop("_change_type", "_change_epoch")
    filter.map(f => signed.where(expr(f))).getOrElse(signed)
  }

  /** Rename every data column of `df` with the side prefix, keeping
    * `__sign` as-is when present.
    */
  private def prefixed(df: DataFrame, p: String): DataFrame =
    df.select(df.columns.map(c =>
      if (c == "__sign") col(c) else col(c).as(p + c)): _*)

  private def refreshLocked(spark: SparkSession, fs: FileSystem,
      dir: Path, cat: String, ns: String, name: String,
      full: Boolean): (Long, Long) = {
    val meta = readMeta(fs, dir).getOrElse(throw new IllegalArgumentException(
      s"$ns.$name is not a materialized view (no MV definition sidecar)"))
    val backing = s"`$cat`.`$ns`.`$name`"
    val sources = meta.source +: meta.dim.map(_.source).toSeq
    if (full) {
      sources.foreach(requireJournalAxis(spark, _,
        "refresh_materialized_view"))
      // the analyzed body re-derives the partition clause (the stored
      // sidecar has keys, but types live in the plan)
      val ex = extract(spark, spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(meta.sql)).analyzed)
      val parts = partitionClause(ex.keys, ex.keyTypes)
      val poss = buildAtStablePositions(spark, sources, _ => {
        spark.sql(s"CREATE OR REPLACE TABLE $backing ${parts}AS ${meta.sql}")
        ()
      })
      // re-record at the new positions AND the current incarnations
      // (full refresh IS the re-bootstrap path), clearing any pending
      // marker — legacy in-dir marker included
      writeMeta(fs, dir, meta.copy(lastCommit = poss.head,
        feedId = feedIdentityOf(spark, meta.source),
        dim = meta.dim.map(d => d.copy(lastCommit = poss(1),
          feedId = feedIdentityOf(spark, d.source)))))
      fs.delete(pendingPath(dir), false)
      fs.delete(legacyPendingPath(dir), false)
      return (-1L, poss.head)
    }
    require(!fs.exists(pendingPath(dir)) &&
        !fs.exists(legacyPendingPath(dir)),
      s"$ns.$name: a previous refresh crashed between the backing " +
        "rewrite and its position update — the incremental fold " +
        "cannot tell what was applied; re-run with full => true")
    sources.foreach(requireJournalAxis(spark, _,
      "refresh_materialized_view"))
    requireSameIncarnation(spark, meta.source, meta.feedId)
    meta.dim.foreach(d =>
      requireSameIncarnation(spark, d.source, d.feedId))
    requireAboveFloor(spark, meta.source, meta.lastCommit)
    meta.dim.foreach(d => requireAboveFloor(spark, d.source, d.lastCommit))
    val curF = lastCommitOf(spark, meta.source)
    val curD = meta.dim.map(d => lastCommitOf(spark, d.source))
    val anyNew = curF > meta.lastCommit ||
      meta.dim.zip(curD).exists { case (d, c) => c > d.lastCommit }
    if (!anyNew) return (0L, meta.lastCommit)

    if (meta.keys.isEmpty)
      return refreshKeyless(spark, fs, dir, backing, meta, curF, curD)

    // ---- the signed per-group delta ------------------------------------
    // Single-table: Δ = changes(pos, cur]. Join: the standard
    // two-sided counting-IVM rule Δ(F⋈D) = ΔF⋈D_new + F_new⋈ΔD − ΔF⋈ΔD
    // (sign = product of side signs; live sides sign +1). Each feed is
    // MATERIALIZED once and reused — exactly ONE `.changes` scan per
    // side per refresh (r16 verdict item 4), and the eager count IS
    // the procedure's change_rows_folded return value.
    val (deltaRows, nRows, liveReadsStable, pinnedFeeds) = meta.dim match {
      case None =>
        val d = Materialize.once(changesOf(spark, meta.source,
          meta.lastCommit, curF, meta.filter))
        val n = d.count()
        (d, n, () => true, Seq(d))
      case Some(ds) =>
        // per-side filters cannot split a cross-side WHERE — apply the
        // stored (prefixed) filter after each join term instead
        val dF = Materialize.once(prefixed(changesOf(spark, meta.source,
          meta.lastCommit, curF, None), "_f_"))
        val dD = Materialize.once(prefixed(changesOf(spark, ds.source,
          ds.lastCommit, curD.get, None), "_d_"))
        // ONE action materializes both feeds and returns both counts —
        // two separate .count() calls paid a second full per-statement
        // execution (plan + job scheduling) for a number the first
        // pass already knew (guide §7.3 driver/fixed cost). Each side
        // carries its own tag: a union promises no row order.
        val counts = dF.select(lit("f"), fcount(lit(1)))
          .unionAll(dD.select(lit("d"), fcount(lit(1))))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val (nF, nD) = (counts("f"), counts("d"))
        def joined(l: DataFrame, r: DataFrame, signCol: Column)
            : DataFrame = {
          val cond = ds.joinKeys.map { case (fc, dc) =>
            l(s"_f_$fc") === r(s"_d_$dc")
          }.reduceOption(_ && _).getOrElse(refuse("empty join key set"))
          val j = l.join(r, cond)
          val withSign = j.withColumn("__jsign", signCol)
          meta.filter.map(f => withSign.where(expr(f)))
            .getOrElse(withSign)
        }
        val dimLive = prefixed(spark.table(ds.source), "_d_")
        val factLive = prefixed(spark.table(meta.source), "_f_")
        val dFs = dF.withColumnRenamed("__sign", "__fs")
        val dDs = dD.withColumnRenamed("__sign", "__ds")
        val terms = Seq(
          if (nF > 0) Some(joined(dFs, dimLive, col("__fs"))) else None,
          if (nD > 0) Some(joined(factLive, dDs, col("__ds"))) else None,
          if (nF > 0 && nD > 0)
            Some(joined(dFs, dDs, -(col("__fs") * col("__ds"))))
          else None
        ).flatten
        val dataCols = (factLive.columns ++ dimLive.columns).distinct
        val unioned = terms.map(t => t.select(
            (dataCols.map(col) :+ col("__jsign").as("__sign")): _*))
          .reduceOption(_ unionByName _)
          .getOrElse(spark.emptyDataFrame)
        // the two live-side reads must be STABLE at (curF, curD): a
        // commit completing mid-fold would leak rows beyond the
        // recorded positions into the F_new/D_new terms and the next
        // refresh would fold them again — verified below, after the
        // delta materializes
        (unioned, nF + nD, () =>
          lastCommitOf(spark, meta.source) == curF &&
            lastCommitOf(spark, ds.source) == curD.get,
          Seq(dF, dD))
    }
    if (nRows == 0L) {
      // bounded feeds can be empty while positions advanced (a DML
      // that matched zero rows, maintenance-only commits): advance
      // BOTH positions — there is nothing to fold on either axis
      pinnedFeeds.foreach(Materialize.free)
      writeMeta(fs, dir, meta.copy(lastCommit = curF,
        dim = meta.dim.zip(curD).map { case (d, c) =>
          d.copy(lastCommit = c)
        }.headOption))
      return (0L, curF)
    }

    val liveness = meta.measures.find(_.kind == "count").get.out
    val hasExtremal =
      meta.measures.exists(m => m.kind == "min" || m.kind == "max")
    // per-group aggregated delta: additive measures as signed sums,
    // extremal measures split into inserted-side / deleted-side
    // extremes (the invalidation test below needs both)
    val aggExprs = meta.measures.flatMap { m =>
      m.kind match {
        case "count" => Seq(fsum(col("__sign")).as(m.out))
        case "sum" => Seq(fsum(col("__sign") *
          expr(m.exprSql).cast(LongType)).as(m.out))
        case "min" => Seq(
          fmin(when(col("__sign") === 1L, expr(m.exprSql)))
            .as(s"__ins_${m.out}"),
          fmin(when(col("__sign") === -1L, expr(m.exprSql)))
            .as(s"__del_${m.out}"))
        case "max" => Seq(
          fmax(when(col("__sign") === 1L, expr(m.exprSql)))
            .as(s"__ins_${m.out}"),
          fmax(when(col("__sign") === -1L, expr(m.exprSql)))
            .as(s"__del_${m.out}"))
      }
    }
    var deltaAgg = Materialize.once(deltaRows
      .groupBy(meta.keys.map(k => col(k.src).as(k.out)): _*)
      .agg(aggExprs.head, aggExprs.tail: _*))
    deltaAgg.count() // eager: pins the fold input (and the live reads)
    require(liveReadsStable(),
      s"materialized-view refresh: a base of $ns.$name was committed " +
        "to while the join delta was being read — retry the refresh")
    pinnedFeeds.foreach(Materialize.free)

    // ---- MIN/MAX resolution (rescan-on-invalidation, item 7) ------------
    // Inserts fold as least/greatest against the stored extreme; a
    // group is INVALIDATED only when a deleted value reaches its
    // stored extreme (the deleted row may have BEEN the extreme) —
    // those groups alone rescan from the base at stable positions.
    val source: DataFrame = if (!hasExtremal) deltaAgg else {
      // existence markers are LITERALS on the right frames, never key
      // nullness: a NULL group key is a legitimate group, and its
      // backing row would otherwise read as "absent" after the left
      // join
      val bk = prefixed(spark.table(backing), "_b_")
        .withColumn("__b_exists", lit(true))
      val j = deltaAgg.join(bk,
        keyCond(deltaAgg, meta.keys.map(_.out), bk,
          meta.keys.map(k => s"_b_${k.out}")), "left")
      val exists = col("__b_exists").isNotNull
      val dying = exists &&
        (col(s"_b_$liveness") + col(liveness)) === 0L
      val invalid = meta.measures.collect {
        case m if m.kind == "min" =>
          col(s"__del_${m.out}").isNotNull &&
            (col(s"_b_${m.out}").isNull ||
              col(s"__del_${m.out}") <= col(s"_b_${m.out}"))
        case m if m.kind == "max" =>
          col(s"__del_${m.out}").isNotNull &&
            (col(s"_b_${m.out}").isNull ||
              col(s"__del_${m.out}") >= col(s"_b_${m.out}"))
      }.reduce(_ || _)
      val anyDel = meta.measures.collect {
        case m if m.kind == "min" || m.kind == "max" =>
          col(s"__del_${m.out}").isNotNull
      }.reduce(_ || _)
      // a group ABSENT from the backing can still need a rescan: an
      // insert+delete landing in the SAME window leaves __ins_* values
      // that include since-deleted rows (insert 5, insert 10, delete 5
      // => least(null, 5) would store 5; the true min is 10)
      val needRescan = !dying && ((exists && invalid) || (!exists && anyDel))
      val rescanKeys = Materialize.once(j.where(needRescan)
        .select(meta.keys.map(k => col(k.out)): _*))
      val nRescan = rescanKeys.count()
      val rescanned: Option[DataFrame] =
        if (nRescan == 0) None
        else Some(rescanGroups(spark, meta, rescanKeys, curF, curD))
      val withB = j.withColumn("__dying", dying)
      val joined = rescanned match {
        case None => withB
          .withColumn("__rescanned", lit(false))
        case Some(rs) =>
          val rsm = rs.withColumn("__r_exists", lit(true))
          withB.join(rsm, keyCond(withB, meta.keys.map(_.out), rsm,
              meta.keys.map(k => s"_r_${k.out}")), "left")
            .withColumn("__rescanned", col("__r_exists").isNotNull)
      }
      // resolve each extremal measure to its FINAL value; additive
      // measures stay deltas (the MERGE adds them). The `_r_` columns
      // exist only when a rescan actually ran.
      def withRescan(base: Column, m: Measure): Column =
        if (rescanned.isEmpty) base
        else when(col("__rescanned"), col(s"_r_${m.out}")).otherwise(base)
      val resolved = meta.keys.map(k => col(k.out)) ++
        meta.measures.map { m =>
          m.kind match {
            case "min" =>
              withRescan(least(col(s"_b_${m.out}"),
                col(s"__ins_${m.out}")), m).as(m.out)
            case "max" =>
              withRescan(greatest(col(s"_b_${m.out}"),
                col(s"__ins_${m.out}")), m).as(m.out)
            case _ => col(m.out)
          }
        }
      val r = Materialize.once(joined.select(resolved: _*))
      r.count() // eager before freeing the inputs
      Materialize.free(rescanKeys)
      rescanned.foreach(Materialize.free)
      r
    }

    // ---- the group-scoped fold: MERGE INTO the backing ------------------
    // The engine's own MERGE is group-based copy-on-write with
    // leaf-narrowing — on the partitioned backing a refresh touching k
    // groups rewrites only those groups' partitions, never the whole
    // view (r16 verdict item 3). Extremal measures arrive RESOLVED
    // (final values); additive measures arrive as deltas and fold
    // null-safely (SUM returns NULL only when every input is NULL —
    // the CASE reproduces exactly the previous union-fold semantics).
    val tv = s"g_mv_delta_${System.nanoTime()}"
    source.createOrReplaceTempView(tv)
    val onCond = meta.keys.map(k =>
      s"b.`${k.out}` <=> d.`${k.out}`").mkString(" AND ")
    val sets = meta.measures.map { m =>
      m.kind match {
        case "min" | "max" => s"b.`${m.out}` = d.`${m.out}`"
        case "count" => s"b.`${m.out}` = b.`${m.out}` + d.`${m.out}`"
        case "sum" =>
          s"b.`${m.out}` = CASE WHEN b.`${m.out}` IS NULL THEN " +
            s"d.`${m.out}` WHEN d.`${m.out}` IS NULL THEN b.`${m.out}` " +
            s"ELSE b.`${m.out}` + d.`${m.out}` END"
      }
    }.mkString(", ")
    val cols = (meta.keys.map(_.out) ++ meta.measures.map(_.out))
      .map(c => s"`$c`").mkString(", ")
    val vals = (meta.keys.map(_.out) ++ meta.measures.map(_.out))
      .map(c => s"d.`$c`").mkString(", ")
    // pending marker BEFORE the fold lands: a crash mid-MERGE or
    // between the MERGE and the position update refuses the next
    // incremental fold instead of silently re-applying
    fs.mkdirs(sideDir(dir))
    fs.create(pendingPath(dir), true).close()
    try spark.sql(
      s"""MERGE INTO $backing b USING $tv d
         |ON $onCond
         |WHEN MATCHED AND (b.`$liveness` + d.`$liveness`) = 0L THEN DELETE
         |WHEN MATCHED THEN UPDATE SET $sets
         |WHEN NOT MATCHED AND d.`$liveness` != 0L THEN
         |  INSERT ($cols) VALUES ($vals)""".stripMargin)
    finally {
      spark.catalog.dropTempView(tv)
      Materialize.free(source)
      if (hasExtremal) Materialize.free(deltaAgg)
    }
    writeMeta(fs, dir, meta.copy(lastCommit = curF,
      dim = meta.dim.zip(curD).map { case (d, c) =>
        d.copy(lastCommit = c)
      }.headOption))
    fs.delete(pendingPath(dir), false)
    (nRows, curF)
  }

  /** Recompute the extremal measures of exactly the invalidated
    * groups, from the base(s) at STABLE positions: the live read must
    * land at (curF, curD) — a commit completing mid-rescan would leak
    * ahead of the recorded position. Returns one row per rescanned
    * group, keys as `_r_<out>`, extremal measures as `_r_<out>`.
    */
  private def rescanGroups(spark: SparkSession, meta: MvMeta,
      rescanKeys: DataFrame, curF: Long, curD: Option[Long]): DataFrame = {
    var attempts = 0
    while (attempts < 3) {
      val base0: DataFrame = meta.dim match {
        case None => spark.table(meta.source)
        case Some(ds) =>
          val f = prefixed(spark.table(meta.source), "_f_")
          val d = prefixed(spark.table(ds.source), "_d_")
          val cond = ds.joinKeys.map { case (fc, dc) =>
            f(s"_f_$fc") === d(s"_d_$dc")
          }.reduce(_ && _)
          f.join(d, cond)
      }
      val base = meta.filter.map(f => base0.where(expr(f)))
        .getOrElse(base0)
      val rk = rescanKeys.select(meta.keys.map(k =>
        col(k.out).as(s"__rk_${k.out}")): _*)
      val scoped = base.join(rk, meta.keys.map(k =>
          base(k.src) <=> rk(s"__rk_${k.out}")).reduce(_ && _),
        "left_semi")
      val aggs = meta.measures.collect {
        case m if m.kind == "min" =>
          fmin(expr(m.exprSql)).as(s"_r_${m.out}")
        case m if m.kind == "max" =>
          fmax(expr(m.exprSql)).as(s"_r_${m.out}")
      }
      val out = Materialize.once(scoped
        .groupBy(meta.keys.map(k => col(k.src).as(s"_r_${k.out}")): _*)
        .agg(aggs.head, aggs.tail: _*))
      out.count() // eager: pins the rescan before the stability check
      val stable = lastCommitOf(spark, meta.source) == curF &&
        meta.dim.zip(curD).forall { case (d, c) =>
          lastCommitOf(spark, d.source) == c
        }
      if (stable) return out
      Materialize.free(out)
      attempts += 1
    }
    throw new IllegalStateException(
      "materialized-view refresh: the base moved during the MIN/MAX " +
        "rescan (3 attempts) — quiesce the writer or retry")
  }

  /** Keyless (global-aggregate) MVs keep the replace fold: the backing
    * is ONE row, so a whole-backing rewrite IS the group-scoped cost.
    */
  private def refreshKeyless(spark: SparkSession, fs: FileSystem,
      dir: Path, backing: String, meta: MvMeta, curF: Long,
      curD: Option[Long]): (Long, Long) = {
    require(meta.dim.isEmpty,
      "keyless join materialized views are unsupported")
    val filtered = Materialize.once(changesOf(spark, meta.source,
      meta.lastCommit, curF, meta.filter))
    val nRows = filtered.count()
    val delta = filtered.select(meta.measures.map { m =>
      (m.kind match {
        case "count" => col("__sign")
        case "sum" => col("__sign") * expr(m.exprSql).cast(LongType)
      }).as(m.out)
    }: _*)
    val cols = meta.measures.map(_.out)
    val folded = spark.table(backing).select(cols.map(col): _*)
      .unionByName(delta)
      .agg(fsum(col(cols.head)).as(cols.head),
        cols.tail.map(c => fsum(col(c)).as(c)): _*)
    // the fold reads the backing it replaces: MATERIALIZE the result
    // BEFORE the replace (the RTAS's query would otherwise plan over
    // the already-truncated target)
    val pinned = Materialize.once(folded)
    pinned.count()
    Materialize.free(filtered)
    val tv = s"g_mv_refresh_${System.nanoTime()}"
    pinned.createOrReplaceTempView(tv)
    fs.mkdirs(sideDir(dir))
    fs.create(pendingPath(dir), true).close()
    try spark.sql(s"CREATE OR REPLACE TABLE $backing AS SELECT * FROM $tv")
    finally {
      spark.catalog.dropTempView(tv)
      Materialize.free(pinned)
    }
    writeMeta(fs, dir, meta.copy(lastCommit = curF))
    fs.delete(pendingPath(dir), false)
    (nRows, curF)
  }
}
