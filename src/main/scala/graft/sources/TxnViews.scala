package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewChange, ViewInfo}
import org.apache.spark.sql.types.StructType

/** qeu: CATALOG VIEWS — the `ViewCatalog` half of the SQL catalog
  * identity (the round-11 "catalog ergonomics" gap, closed after
  * SHOW CREATE TABLE and branches/tags). A view is pure metadata: the
  * original SQL text plus the capture context (current catalog /
  * namespace at definition, so later reads resolve the same tables)
  * and the definition-time schema. Storage is deliberately codec-free
  * — ONE FILE PER FIELD under `warehouse/_views/<name>/` (sql,
  * catalog, namespace, schema DDL, column name/alias/comment lines,
  * URL-encoded property lines) — so no span-parsing hazard class
  * exists here at all (the manifest-codec lesson).
  *
  * Spark 4.1 ships the `ViewCatalog` interface but not yet the V2
  * CREATE/DROP VIEW or view-resolution wiring, so the engine provides
  * both halves itself: DDL through `CALL graft.system.create_view/
  * drop_view` (the same procedure seam as the maintenance surface)
  * and read resolution through [[ViewSubstitutionRule]] — an injected
  * resolution rule that replaces an unresolved `graft.<view>` relation
  * with its parsed, aliased definition (exactly what a SQL view IS;
  * the analyzer's fixed-point iteration then resolves nested views).
  * Self/cyclic references are cut off by a depth guard in the rule. */
object TxnViews {

  private def dir(warehouse: String, name: String): java.io.File = {
    require(TxnLog.isName(name), s"bad view name '$name'")
    new java.io.File(s"$warehouse/_views/$name")
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private def write(f: java.io.File, s: String): Unit =
    java.nio.file.Files.writeString(f.toPath, s)
  private def read(f: java.io.File): String =
    java.nio.file.Files.readString(f.toPath)

  /** False for a name no view can have: `graft.<bad name>` is not found. */
  def exists(warehouse: String, name: String): Boolean =
    TxnLog.isName(name) && new java.io.File(dir(warehouse, name), "sql").isFile

  def list(warehouse: String): Array[String] = {
    val d = new java.io.File(s"$warehouse/_views")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => new java.io.File(f, "sql").isFile)
      .map(_.getName).sorted
  }

  def create(warehouse: String, info: ViewInfo, replace: Boolean): Unit = {
    val d = dir(warehouse, info.ident.name)
    require(replace || !exists(warehouse, info.ident.name),
      s"view ${info.ident.name} already exists (use CREATE OR REPLACE)")
    d.mkdirs()
    write(new java.io.File(d, "sql"), info.sql)
    write(new java.io.File(d, "catalog"), info.currentCatalog)
    write(new java.io.File(d, "namespace"),
      info.currentNamespace.map(enc).mkString("\n"))
    write(new java.io.File(d, "schema"), info.schema.toDDL)
    write(new java.io.File(d, "query_cols"),
      info.queryColumnNames.map(enc).mkString("\n"))
    write(new java.io.File(d, "aliases"),
      info.columnAliases.map(enc).mkString("\n"))
    write(new java.io.File(d, "comments"),
      info.columnComments.map(c => if (c == null) "\u0000" else enc(c))
        .mkString("\n"))
    writeProps(d, {
      val m = new util.HashMap[String, String](info.properties); m
    })
  }

  private def writeProps(d: java.io.File,
      props: util.Map[String, String]): Unit = {
    import scala.jdk.CollectionConverters._
    write(new java.io.File(d, "props"), props.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${enc(k)}\t${enc(v)}" }.mkString("\n"))
  }

  def drop(warehouse: String, name: String): Boolean = {
    val there = exists(warehouse, name)
    if (there) graft.Fs.deleteRecursively(dir(warehouse, name).getPath)
    there
  }

  def rename(warehouse: String, from: String, to: String): Unit = {
    require(exists(warehouse, from), s"no view named $from")
    require(!exists(warehouse, to), s"view $to already exists")
    val ok = dir(warehouse, from).renameTo(dir(warehouse, to))
    require(ok, s"rename of view $from failed")
  }

  def load(warehouse: String, viewName: String): View = {
    require(exists(warehouse, viewName), s"no view named $viewName")
    val d = dir(warehouse, viewName)
    def lines(f: String): Array[String] = {
      val s = read(new java.io.File(d, f))
      if (s.isEmpty) Array.empty else s.split("\n", -1)
    }
    new View {
      override val name: String = viewName
      override val query: String = read(new java.io.File(d, "sql"))
      override val currentCatalog: String =
        read(new java.io.File(d, "catalog"))
      override val currentNamespace: Array[String] =
        lines("namespace").map(dec)
      override val schema: StructType =
        StructType.fromDDL(read(new java.io.File(d, "schema")))
      override val queryColumnNames: Array[String] =
        lines("query_cols").map(dec)
      override val columnAliases: Array[String] = lines("aliases").map(dec)
      override val columnComments: Array[String] =
        lines("comments").map(c => if (c == "\u0000") null else dec(c))
      override val properties: util.Map[String, String] = {
        val m = new util.HashMap[String, String]()
        lines("props").filter(_.nonEmpty).foreach { l =>
          val Array(k, v) = l.split("\t", 2)
          m.put(dec(k), dec(v))
        }
        m
      }
    }
  }

  /** Create-time definition validation (the capture-context honesty
    * fix): every table/view reference in the definition must be FULLY
    * QUALIFIED (`catalog.name`). The store records the definition-time
    * catalog/namespace, but Spark 4.1 offers no V2 view-resolution
    * seam that re-applies them, so an unqualified name would silently
    * re-resolve in each READER's session context (their temp views,
    * their current catalog) — the classic view-capture bug. Refusing
    * unqualified names at create makes the stored text mean the same
    * relation for every reader, which is also why permanent views over
    * session-local temp views are impossible by construction (Spark's
    * own CREATE VIEW enforces the same). */
  def validate(spark: org.apache.spark.sql.SparkSession, name: String,
      sqlText: String): Unit = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sqlText)
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    val unqualified = parsed.collect {
      case UnresolvedRelation(parts, _, _) if parts.length < 2 =>
        parts.mkString(".")
    }.distinct
    require(unqualified.isEmpty,
      s"view $name: unqualified table reference(s) " +
        s"${unqualified.mkString(", ")} — view definitions must fully " +
        "qualify every relation (e.g. graft.t); a bare name would " +
        "re-resolve in each reader's session context, not the " +
        "definition's")
  }

  /** Store view `name` as `sqlText` for both view DDL surfaces (`CREATE
    * VIEW` and the `create_view` procedure): refused when a table or
    * branch already answers to `graft.<name>`, then [[validate]]d, then
    * analyzed (never executed) to pin its schema — cyclic references
    * refuse there via the substitution rule's seen-set. Returns it. */
  def define(spark: org.apache.spark.sql.SparkSession, warehouse: String,
      name: String, sqlText: String, replace: Boolean): StructType = {
    require(TxnLog.tableRoot(warehouse, name).isEmpty,
      s"a table named $name already exists")
    validate(spark, name, sqlText)
    val schema = spark.sql(sqlText).schema
    create(warehouse, new ViewInfo(Identifier.of(Array.empty, name), sqlText,
      "graft", Array.empty, schema, schema.fieldNames, Array.empty,
      Array.empty, java.util.Map.of()), replace)
    schema
  }

  def alter(warehouse: String, name: String,
      changes: Seq[ViewChange]): View = {
    val v = load(warehouse, name)
    val props = new util.HashMap[String, String](v.properties)
    changes.foreach {
      case s: ViewChange.SetProperty    => props.put(s.property, s.value)
      case r: ViewChange.RemoveProperty => props.remove(r.property)
      case other => throw new UnsupportedOperationException(
        s"graft_txn views: unsupported ALTER VIEW change $other")
    }
    writeProps(dir(warehouse, name), props)
    load(warehouse, name)
  }
}

/** The read half of [[TxnViews]]: an injected resolution rule (the
  * CdfReadOptionRule seam) that substitutes `graft.<view>` relations
  * with their parsed definitions. Substitution happens BEFORE table
  * resolution can fail (views and tables share the catalog namespace;
  * a name that is a stored view is never a table — [[GraftTxnCatalog
  * .createView]] refuses collisions both ways).
  *
  * Each substitution expands the view's WHOLE reference tree in one
  * pass, threading a seen-set down the recursion: a view that reaches
  * itself through ANY chain (self-reference or a mutual A↔B cycle)
  * refuses loudly with the chain spelled out, instead of spinning the
  * analyzer to its max-iterations error. Catalog-name matching is
  * case-insensitive (`GRAFT.v` is the same relation — Spark catalog
  * lookups are case-insensitive); single-part names resolve as views
  * only when the session's current catalog IS graft, mirroring table
  * resolution. Definitions store fully-qualified references only
  * ([[TxnViews.validate]]), so the reader's session context can never
  * re-bind a name away from what the definition meant. */
object ViewSubstitutionRule extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}

  private def isGraft(cat: String): Boolean = cat.equalsIgnoreCase("graft")

  /** Parse `name`'s stored definition and substitute every graft-view
    * reference inside it recursively; `seen` is the expansion chain
    * from the root reference down to here. */
  private def expand(spark: org.apache.spark.sql.SparkSession, wh: String,
      name: String, seen: Seq[String]): LogicalPlan = {
    require(!seen.contains(name),
      s"cyclic view reference: ${(seen :+ name).mkString(" -> ")} — " +
        "a view may not reach itself through any chain of views")
    val v = TxnViews.load(wh, name)
    val parsed = spark.sessionState.sqlParser.parsePlan(v.query)
    val substituted = parsed.transformUp {
      case UnresolvedRelation(Seq(cat, n), _, _)
          if isGraft(cat) && TxnViews.exists(wh, n) =>
        expandAliased(spark, wh, n, seen :+ name)
    }
    substituted
  }
  private def expandAliased(spark: org.apache.spark.sql.SparkSession,
      wh: String, name: String, seen: Seq[String]): LogicalPlan =
    SubqueryAlias(name, expand(spark, wh, name, seen))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = org.apache.spark.sql.SparkSession.active
    val wh = spark.conf.getOption("spark.sql.catalog.graft.warehouse").orNull
    if (wh == null) return plan
    // current-catalog resolution for single-part names, read once per
    // rule application (a public-API read; cheap)
    lazy val currentIsGraft = isGraft(spark.catalog.currentCatalog())
    plan.resolveOperatorsUp {
      case UnresolvedRelation(Seq(cat, name), _, _)
          if isGraft(cat) && TxnViews.exists(wh, name) =>
        expandAliased(spark, wh, name, Nil)
      case UnresolvedRelation(Seq(name), _, _)
          if currentIsGraft && TxnViews.exists(wh, name) =>
        expandAliased(spark, wh, name, Nil)
    }
  }
}

/** qey: STANDARD SQL VIEW DDL — `CREATE [OR REPLACE] VIEW [IF NOT
  * EXISTS] graft.v AS SELECT ...` and `DROP VIEW [IF EXISTS] graft.v`
  * as plain statements. Spark 4.1's parser produces the V2
  * `CreateView`/`DropView` logical nodes but ships no exec for a
  * `ViewCatalog` — `ResolveSessionCatalog` refuses any non-session
  * catalog with MISSING_CATALOG_ABILITY before an injected resolution
  * or post-hoc rule can run (verified against 4.1.2:
  * ResolveSessionCatalog.scala:469). The sanctioned seam that runs
  * EARLIER than every analyzer rule is `injectParser`: delegate the
  * full SQL grammar to Spark's own parser, then swap a graft-catalog
  * view-DDL node for a command against the [[TxnViews]] store at
  * parse time. No grammar is re-implemented (the delegate parses
  * everything; this class only pattern-matches the parsed node), and
  * non-graft view DDL passes through untouched. */
class GraftSqlDdlParser(
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
  import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan}

  private def graftViewName(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedIdentifier
        if u.nameParts.length == 2 &&
          u.nameParts.head.equalsIgnoreCase("graft") =>
      Some(u.nameParts(1))
    case _ => None
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    swap(delegate.parsePlan(sqlText))

  /** Parameterized SQL (`spark.sql(text, args)`) arrives HERE, not at
    * parsePlan — the interface default drops the parameter context
    * (IDENTIFIER(:p) then fails as non-constant), so the wrapper must
    * forward it to the delegate explicitly. */
  override def parsePlanWithParameters(sqlText: String,
      context: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    swap(delegate.parsePlanWithParameters(sqlText, context))

  private def swap(parsed: LogicalPlan): LogicalPlan =
    parsed match {
      case cv: CreateView if graftViewName(cv.child).isDefined =>
        val name = graftViewName(cv.child).get
        require(cv.userSpecifiedColumns.isEmpty,
          s"graft views: alias columns in the SELECT itself — the " +
            "stored definition IS the SQL text, a separate column " +
            "list would be lost on read")
        val text = cv.originalText.getOrElse(sys.error(
          s"CREATE VIEW graft.$name: no SQL text captured"))
        CreateGraftViewCommand(name, text, cv.allowExisting, cv.replace)
      case dv: DropView if graftViewName(dv.child).isDefined =>
        DropGraftViewCommand(graftViewName(dv.child).get, dv.ifExists)
      // merge-on-read DML routing (qex): narrow graft-table UPDATEs
      // reroute to deletion vectors + an append, priced from the
      // manifest — parse-time because Spark 4.1's analyzer rewrites
      // UpdateTable to the group-based ReplaceData before any
      // injectable rule runs (see MorDmlRouter)
      case u: org.apache.spark.sql.catalyst.plans.logical.UpdateTable =>
        MorDmlRouter.routeUpdate(u).getOrElse(u)
      case other => other
    }

  override def parseExpression(s: String) = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String) =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String) =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String) =
    delegate.parseMultipartIdentifier(s)
  override def parseTableSchema(s: String) = delegate.parseTableSchema(s)
  override def parseDataType(s: String) = delegate.parseDataType(s)
  override def parseQuery(s: String) = delegate.parseQuery(s)
  override def parseRoutineParam(s: String) = delegate.parseRoutineParam(s)
}

/** `CREATE [OR REPLACE] VIEW [IF NOT EXISTS] graft.<name>` — validate
  * (fully-qualified refs, no table collision), analyze the definition
  * to pin its schema (cycles refuse here via the substitution rule's
  * seen-set), store. Executes exactly once, at command execution. */
case class CreateGraftViewCommand(name: String, sqlText: String,
    allowExisting: Boolean, replace: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val wh = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
      .getOrElse(sys.error("graft catalog is not configured"))
    if (!(allowExisting && TxnViews.exists(wh, name)))
      TxnViews.define(spark, wh, name, sqlText, replace)
    Nil
  }
}

/** `DROP VIEW [IF EXISTS] graft.<name>`. */
case class DropGraftViewCommand(name: String, ifExists: Boolean)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def run(spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val wh = spark.conf.getOption("spark.sql.catalog.graft.warehouse")
      .getOrElse(sys.error("graft catalog is not configured"))
    val dropped = TxnViews.drop(wh, name)
    require(dropped || ifExists, s"no view named graft.$name")
    Nil
  }
}
