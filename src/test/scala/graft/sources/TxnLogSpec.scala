package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException

/** [[TxnLog]] is the one owner of the txn table's on-disk layout, and
  * the one resolver of `graft.<table>__<branch>` names. */
class TxnLogSpec extends SparkSpec {

  private def sql(s: String) = spark.sql(s)

  override def withFixture(test: NoArgTest) = {
    GraftTxnCatalog.register(spark)
    super.withFixture(test)
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("no source under graft/sources but TxnLog.scala names the log layout") {
    // the self-check: a literal in code trips the guard, while a comment
    // or a name that merely ends like a layout file does not
    assert(TxnLogSpec.layoutHits("val r = s\"$root/_log\"") == Seq("/_log"))
    assert(TxnLogSpec.layoutHits(
      "val n = \"n_rows_head\" // root/_log/_head, Files.createLink\n" +
        "/* _refs/<b>/_base */ val q = '\"'").isEmpty)
    val offenders = Files.list(Paths.get("src/main/scala/graft/sources"))
      .iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "TxnLog.scala")
      .flatMap(p => TxnLogSpec.layoutHits(Files.readString(p))
        .map(h => s"${p.getFileName}: $h"))
    assert(offenders.isEmpty)
  }

  test("a <table>__<branch> name never resolves outside its table's branches") {
    Seq("esc_t", "esc_u").foreach(t => sql(s"DROP TABLE IF EXISTS graft.$t"))
    Seq("esc_t" -> 10, "esc_u" -> 3).foreach { case (t, n) =>
      sql(s"""CREATE TABLE graft.$t (k BIGINT, v BIGINT) USING graft_txn
              TBLPROPERTIES ('key'='k','shards'='2','layout_div'='100')""")
      sql(s"INSERT INTO graft.$t SELECT id, id FROM range($n)")
    }
    val wh = graft.Fs.scratch("graft_txn_catalog_wh")
    TxnTable.createBranch(s"$wh/esc_t", "b")
    sql("INSERT INTO graft.esc_t__b SELECT id, id FROM range(10, 15)")
    // the branch resolves through both ways in; main stays untouched
    assert(spark.table("graft.esc_t__b").count() == 15L)
    assert(spark.table("graft.esc_t").count() == 10L)
    val (main, branch) = (s"$wh/esc_t", TxnTable.resolveRef(s"$wh/esc_t", "b")
      .toOption.get._1)
    val heads = Seq(main, branch).map(TxnTable.latestVersion)
    sql("CALL graft.system.compact('esc_t__b', 5000)").collect()
    assert(Seq(main, branch).map(TxnTable.latestVersion) ==
      Seq(heads(0), heads(1) + 1))
    // `..` in the branch part used to climb back to the table itself
    // (or, with a path, to another table); none of these is a table
    for (name <- Seq("esc_t__..", "esc_t__../../esc_u", "../esc_t", ".",
        "esc_t__missing")) {
      val e = intercept[AnalysisException] {
        spark.table(s"graft.`$name`").collect()
      }
      assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", s"$name: $e")
      val p = intercept[Exception] {
        sql(s"CALL graft.system.compact('$name', 5000)").collect()
      }
      assert(messages(p).exists(_.contains(s"no graft_txn table '$name'")),
        s"$name: $p")
    }
    // nor can CREATE plant a table where no name resolves to it
    val c = intercept[Exception] {
      sql("""CREATE TABLE graft.`../esc_v` (k BIGINT) USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='1','layout_div'='10')""")
    }
    assert(messages(c).exists(_.contains("bad table name '../esc_v'")), c)
    assert(!new java.io.File(s"$wh/../esc_v").exists)
    // `.` names the warehouse itself: CREATE used to empty it first
    val dot = intercept[Exception] {
      sql("""CREATE TABLE graft.`.` (k BIGINT) USING graft_txn
             TBLPROPERTIES ('key'='k','shards'='1','layout_div'='10')""")
    }
    assert(messages(dot).exists(_.contains("bad table name '.'")), dot)
    assert(spark.table("graft.esc_t").count() == 10L)
    // the catalog's one namespace is the empty one: a namespace part
    // never leads out of the warehouse, here back into it as esc_u
    val away = s"graft.`..`.`${new java.io.File(wh).getName}`.esc_u"
    for (name <- Seq(away, "graft.esc_t._refs.b")) {
      val e = intercept[AnalysisException](spark.table(name).collect())
      assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", s"$name: $e")
    }
    intercept[AnalysisException](sql(s"DROP TABLE $away"))
    sql(s"DROP TABLE IF EXISTS $away")
    assert(spark.table("graft.esc_u").count() == 3L)
  }
}

object TxnLogSpec {
  private val Layout = Seq("/_log", "\"_log\"", "_refs/", "\"_head\"",
    "/_base", "Files.createLink", "ATOMIC_MOVE")

  /** The layout literals and publish calls in Scala source `src`,
    * outside its comments. */
  def layoutHits(src: String): Seq[String] = {
    val code = stripComments(src)
    Layout.filter(code.contains)
  }

  /** `src` with its comments removed; code and string literals kept. A
    * plain string literal never spans a line, so a mis-scan of one
    * cannot run on past its line. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    def at(k: Int) = if (k < n) src.charAt(k) else '\u0000'
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out.append(src.substring(i, stop))
        i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, n)
        out.append(src.substring(i, stop))
        i = stop
      } else if (c == '\'' && at(i + 2) == '\'') {
        out.append(src.substring(i, i + 3))
        i += 3
      } else if (c == '\'' && at(i + 1) == '\\' && at(i + 3) == '\'') {
        out.append(src.substring(i, i + 4))
        i += 4
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }
}
