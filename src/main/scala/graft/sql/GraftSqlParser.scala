package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructType}

/**
 * SQL statement surface for the admin commands, injected via
 * `SparkSessionExtensions.injectParser` — the reference exposes these
 * as first-class statements in its own SQL dialect (yupana-core
 * sql/parser: ShowQueryMetrics / DeleteQueryMetrics / KillQuery /
 * ShowUpdatesIntervals, routed by QueryEngineRouter.scala:91-106).
 * graft recognizes exactly those statements and delegates every other
 * string to Spark's parser, so the full Spark SQL language is
 * untouched.
 *
 * Grammar (case-insensitive):
 *   SHOW QUERY METRICS [WHERE QUERY_ID = '…' | STATE = '…'] [LIMIT n]
 *   DELETE QUERY METRICS [WHERE QUERY_ID = '…' | STATE = '…']
 *   KILL QUERY '<job-group>' | KILL QUERY WHERE QUERY_ID = '<job-group>'
 *   SHOW UPDATES_INTERVALS '<changelog-dir>'
 *   SHOW ROLLUP ROUTES
 *   SHOW EXTERNAL LINKS
 *   SHOW INDEX DRIFT FOR '<index-path>' USING '<vectors-path-or-table>'
 *   SHOW TEXT INDEX FOR '<index-path>'
 *   COMPACT TEXT INDEX '<index-path>'
 *   ADMIT SHARD '<name>' FROM <table> INTO '<index-path>' USING <ref-table> [ON (<id-col>, <text-col>)]
 *   ADMIT SHARD '<name>' FROM <table> INTO TABLE <bucketed-table> DELTA '<delta-path>' USING <ref-table> [ON (<id-col>, <text-col>)]
 *   PROMOTE TEXT INDEX DELTA '<delta-path>' INTO TABLE <bucketed-table>
 *   SHOW VECTOR INDEX FOR '<index-path>'
 *   SHOW RESULT CACHE ['<cache-dir>']
 *   INVALIDATE RESULT CACHE '<cache-dir>' [DATA '<data-key>']
 *   VACUUM RESULT CACHE '<cache-dir>' [OLDER THAN <n> SECONDS|MINUTES|HOURS|DAYS]
 *   GRANT READ|WRITE ON TABLE <table> | ON PATH '<path>' TO USER '<name>'
 *   REVOKE READ|WRITE ON TABLE <table> | ON PATH '<path>' FROM USER '<name>'
 *   SHOW GRANTS [FOR USER '<name>']
 *   ADMIT VECTORS '<shard>' FROM <table> INTO '<index-path>'
 *   PROMOTE VECTOR INDEX DELTA '<index-path>'
 *   SHOW VERSION
 *   SHOW USERS
 *   CREATE USER '<name>' [WITH PASSWORD = '…'] [WITH ROLE = '<role>']
 *   ALTER USER '<name>' [SET PASSWORD = '…'] [SET ROLE = '<role>']
 *   DROP USER '<name>'
 *   FIT DSIR MODEL '<path>' FROM <table> TARGET (<bool-expr>) [ON (<id-col>, <text-col>)] [BUCKETS n]
 *   UPDATE DSIR MODEL '<path>' FROM <table> TARGET (<bool-expr>) [ON (<id-col>, <text-col>)] BATCH '<label>'
 *   SHOW DSIR MODEL '<path>'
 *   SCREEN DSIR '<path>' FROM <table> [ON (<id-col>, <text-col>)] [MIN LOGW x]
 *   UPSERT INTO <table> (col, ...) VALUES (v, ...), ...
 *
 * The DSIR verbs drive the corpus-selection model lifecycle
 * ([[graft.operators.Dsir]]) the same statement-first way the index
 * lifecycles run: FIT persists the hashed-unigram importance model
 * (TARGET takes a boolean predicate over the table's columns —
 * extracted by balanced-paren scan, then Spark-parsed, so nested
 * parentheses and quoted ')' are fine),
 * SHOW reads back the stored geometry, SCREEN scores a table against
 * the frozen model and reports kept/rejected counts at the logw
 * threshold (default 0 = "more target-like than pool-like").
 *
 * COMPACT TEXT INDEX / ADMIT SHARD complete the text-index lifecycle's
 * statement surface: the reference drives ALL of its maintenance verbs
 * through SQL statements routed by QueryEngineRouter
 * (yupana-core QueryEngineRouter.scala), so an operator never needs a
 * Scala shell for a routine admission or compaction here either. ADMIT
 * SHARD probes the index for cross-corpus near-duplicates of FROM's
 * rows, appends only the novel documents' signatures under the shard
 * name, and reports admitted/rejected counts; USING names the table
 * holding the indexed corpus TEXT (the index itself is signature-only);
 * ON defaults to (doc_id, text).
 *
 * The WHERE filters are the reference's MetricsFilter
 * (SqlParser.scala:301-303 — queryId / state equality).
 *
 * UPSERT (reference SqlParser.scala:331, Statement.scala:30 — put
 * semantics keyed by (time, dimensions)) targets a table registered in
 * [[UpsertTables]]: the batch appends one version to the table's
 * log-structured store ([[graft.sources.Upsert.appendVersion]] — O(batch),
 * no read of existing data) and refreshes the table's merge-on-read
 * view, so a follow-up SELECT sees latest-version-wins rows. The VALUES
 * tail is parsed by Spark's own `SELECT * FROM VALUES ...` grammar —
 * full literal syntax, no hand tokenizer.
 *
 * SET is deliberately NOT intercepted: the reference's `SET key = value`
 * session-parameter statement (SqlParser.scala:375) is Spark's native
 * SET — identical syntax and semantics (`SET graft.x=1` round-trips via
 * `SET graft.x`), so aliasing would only shadow the real implementation.
 */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  /** The graft statement surface: returns the matched command, or
    * null for anything that belongs to Spark's own grammar. Shared by
    * BOTH parse entry points so each can fall through to the RIGHT
    * delegate method. */
  private def graftPlan(sqlText: String): LogicalPlan = {
    val t = sqlText.trim
    def filt(key: String, value: String): (Option[String], Option[String]) =
      Option(key).map(_.toUpperCase) match {
        case Some("QUERY_ID") => (Some(value), None)
        case Some("STATE") => (None, Some(value))
        case _ => (None, None)
      }
    t match {
      case ShowMetricsRe(key, value, limit) =>
        val (q, st) = filt(key, value)
        ShowQueryMetricsCommand(Option(limit).map(_.toInt).getOrElse(100), q, st)
      case DeleteMetricsRe(key, value) =>
        val (q, st) = filt(key, value)
        DeleteQueryMetricsCommand(q, st)
      case KillQueryRe(group) => KillQueryCommand(group)
      case ShowUpdatesRe(dir) => ShowUpdatesIntervalsCommand(dir)
      case ShowRoutesRe() => ShowRollupRoutesCommand()
      case ShowLinksRe() => ShowExternalLinksCommand()
      case ShowDriftRe(index, source) => ShowIndexDriftCommand(index, source)
      case ShowTextIndexRe(index) => ShowTextIndexCommand(index)
      case CompactTextIndexRe(index) => CompactTextIndexCommand(index)
      case AdmitShardBucketedRe(shard, probeTable, table, delta, refTable, idCol, textCol) =>
        AdmitShardBucketedCommand(shard, probeTable, table, delta, refTable,
          Option(idCol).getOrElse("doc_id"), Option(textCol).getOrElse("text"))
      case AdmitShardRe(shard, probeTable, index, refTable, idCol, textCol) =>
        AdmitShardCommand(shard, probeTable, index, refTable,
          Option(idCol).getOrElse("doc_id"), Option(textCol).getOrElse("text"))
      case PromoteDeltaRe(delta, table) => PromoteTextIndexDeltaCommand(table, delta)
      case ShowVectorIndexRe(index) => ShowVectorIndexCommand(index)
      case ShowResultCacheRe(dir) => ShowResultCacheCommand(dir)
      case ShowResultTierRe() => ShowResultTierCommand()
      case InvalidateResultCacheRe(dir, key) => InvalidateResultCacheCommand(dir, Option(key))
      case VacuumResultCacheRe(dir, n, unit) =>
        VacuumResultCacheCommand(dir, Option(n).map { num =>
          val ms = unit.toUpperCase(java.util.Locale.ROOT) match {
            case u if u.startsWith("SECOND") => 1000L
            case u if u.startsWith("MINUTE") => 60000L
            case u if u.startsWith("HOUR") => 3600000L
            case _ => 86400000L
          }
          num.toLong * ms
        })
      case GrantTableRe(action, ident, path, user) =>
        GrantTableCommand(action.toUpperCase(java.util.Locale.ROOT),
          Option(ident).getOrElse(path), isPath = ident == null, user)
      case RevokeTableRe(action, ident, path, user) =>
        RevokeTableCommand(action.toUpperCase(java.util.Locale.ROOT),
          Option(ident).getOrElse(path), isPath = ident == null, user)
      case ShowGrantsRe(user) => ShowGrantsCommand(Option(user))
      case AdmitVectorsRe(shard, table, index) => AdmitVectorsCommand(shard, table, index)
      case PromoteVectorDeltaRe(index) => PromoteVectorIndexDeltaCommand(index)
      case ShowVersionRe() => ShowVersionCommand()
      case ShowUsersRe() => ShowUsersCommand()
      case CreateUserHeadRe(name, tail) =>
        val (pw, role) = GraftSqlParser.userClauses("CREATE", "WITH", tail)
        CreateUserCommand(GraftSqlParser.validUsername("CREATE", name), pw, role)
      case AlterUserHeadRe(name, tail) =>
        val (pw, role) = GraftSqlParser.userClauses("ALTER", "SET", tail)
        if (pw.isEmpty && role.isEmpty)
          throw new IllegalArgumentException(
            s"[GRAFT] ALTER USER '$name' requires SET PASSWORD = '…' and/or SET ROLE = '…'")
        AlterUserCommand(GraftSqlParser.validUsername("ALTER", name), pw, role)
      case DropUserRe(name) => DropUserCommand(name)
      case FitDsirHeadRe(path, table, rest) =>
        val (target, tail) = GraftSqlParser.dsirTarget(rest, sqlText)
        tail match {
          case FitDsirTailRe(idCol, textCol, buckets) =>
            FitDsirModelCommand(path, table, target,
              Option(idCol).getOrElse("doc_id"), Option(textCol).getOrElse("text"),
              Option(buckets).map(_.toInt).getOrElse(4096))
          case _ => throw GraftSqlParser.dsirSyntaxError("FIT DSIR MODEL",
            "[ON (<id-col>, <text-col>)] [BUCKETS <n>]", sqlText)
        }
      case UpdateDsirHeadRe(path, table, rest) =>
        val (target, tail) = GraftSqlParser.dsirTarget(rest, sqlText)
        tail match {
          case UpdateDsirTailRe(idCol, textCol, batch) =>
            UpdateDsirModelCommand(path, table, target,
              Option(idCol).getOrElse("doc_id"), Option(textCol).getOrElse("text"), batch)
          case _ => throw GraftSqlParser.dsirSyntaxError("UPDATE DSIR MODEL",
            "[ON (<id-col>, <text-col>)] BATCH '<label>'", sqlText)
        }
      case ShowDsirRe(path) => ShowDsirModelCommand(path)
      case ScreenDsirRe(path, table, idCol, textCol, minLogw) =>
        ScreenDsirCommand(path, table,
          Option(idCol).getOrElse("doc_id"), Option(textCol).getOrElse("text"),
          Option(minLogw).map(_.toDouble).getOrElse(0.0))
      case UpsertRe(table, cols, values) =>
        UpsertCommand(table, cols.split(',').map(_.trim).toSeq.filter(_.nonEmpty), values)
      case _ => null
    }
  }

  override def parsePlan(sqlText: String): LogicalPlan = {
    val p = graftPlan(sqlText)
    if (p != null) p else delegate.parsePlan(sqlText)
  }

  /** Spark 4's `sql(text, args)` enters the parser HERE, not through
    * [[parsePlan]] — and the ParserInterface DEFAULT implementation
    * silently drops the ParameterContext (it just calls
    * parsePlan(sqlText)), so an injected parser that does not forward
    * this method breaks every parameterized query on the session with
    * UNBOUND_SQL_PARAMETER. Graft statements take no parameter
    * markers (a regex surface); everything else forwards WITH the
    * parameters. */
  override def parsePlanWithParameters(
      sqlText: String,
      parameters: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan = {
    val p = graftPlan(sqlText)
    if (p != null) p else delegate.parsePlanWithParameters(sqlText, parameters)
  }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier = delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] = delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  private val ShowMetricsRe =
    """(?is)SHOW\s+QUERY\s+METRICS(?:\s+WHERE\s+(QUERY_ID|STATE)\s*=\s*'([^']*)')?(?:\s+LIMIT\s+(\d+))?\s*;?""".r
  private val DeleteMetricsRe =
    """(?is)DELETE\s+QUERY\s+METRICS(?:\s+WHERE\s+(QUERY_ID|STATE)\s*=\s*'([^']*)')?\s*;?""".r
  private val KillQueryRe =
    """(?is)KILL\s+QUERY\s+(?:WHERE\s+QUERY_ID\s*=\s*)?'([^']+)'\s*;?""".r
  private val ShowUpdatesRe = """(?is)SHOW\s+UPDATES_INTERVALS\s+'([^']+)'\s*;?""".r
  private val ShowRoutesRe = """(?is)SHOW\s+ROLLUP\s+ROUTES\s*;?""".r
  private val ShowLinksRe = """(?is)SHOW\s+EXTERNAL\s+LINKS\s*;?""".r
  private val ShowDriftRe =
    """(?is)SHOW\s+INDEX\s+DRIFT\s+FOR\s+'([^']+)'\s+USING\s+'([^']+)'\s*;?""".r
  private val ShowTextIndexRe =
    """(?is)SHOW\s+TEXT\s+INDEX\s+FOR\s+'([^']+)'\s*;?""".r
  private val CompactTextIndexRe =
    """(?is)COMPACT\s+TEXT\s+INDEX\s+'([^']+)'\s*;?""".r
  private val AdmitShardRe =
    """(?is)ADMIT\s+SHARD\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+INTO\s+'([^']+)'\s+USING\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+ON\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?\s*;?""".r
  private val AdmitShardBucketedRe =
    """(?is)ADMIT\s+SHARD\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+INTO\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s+DELTA\s+'([^']+)'\s+USING\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+ON\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?\s*;?""".r
  private val PromoteDeltaRe =
    """(?is)PROMOTE\s+TEXT\s+INDEX\s+DELTA\s+'([^']+)'\s+INTO\s+TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)\s*;?""".r
  private val ShowVectorIndexRe =
    """(?is)SHOW\s+VECTOR\s+INDEX\s+FOR\s+'([^']+)'\s*;?""".r
  private val ShowResultCacheRe =
    """(?is)SHOW\s+RESULT\s+CACHE\s+'([^']+)'\s*;?""".r
  private val ShowResultTierRe =
    """(?is)SHOW\s+RESULT\s+CACHE\s*;?""".r
  private val InvalidateResultCacheRe =
    """(?is)INVALIDATE\s+RESULT\s+CACHE\s+'([^']+)'(?:\s+DATA\s+'([^']+)')?\s*;?""".r
  private val VacuumResultCacheRe =
    """(?is)VACUUM\s+RESULT\s+CACHE\s+'([^']+)'(?:\s+OLDER\s+THAN\s+(\d+)\s+(SECONDS?|MINUTES?|HOURS?|DAYS?))?\s*;?""".r
  // per-subject grants (reference auth/PermissionService.scala
  // Permission[Option[String], Action] — a grant scoped to ONE
  // subject; graft's role matrix stays the all-tables default and
  // grants ELEVATE it). The subject kind is EXPLICIT grammar: ON
  // TABLE <identifier> (case-insensitive) vs ON PATH '<path>' (exact
  // — index/model maintenance verbs authorize against their path).
  private val GrantTableRe =
    """(?is)GRANT\s+(READ|WRITE)\s+ON\s+(?:TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)|PATH\s+'([^']+)')\s+TO\s+USER\s+'([^']*)'\s*;?""".r
  private val RevokeTableRe =
    """(?is)REVOKE\s+(READ|WRITE)\s+ON\s+(?:TABLE\s+([A-Za-z_][A-Za-z0-9_.]*)|PATH\s+'([^']+)')\s+FROM\s+USER\s+'([^']*)'\s*;?""".r
  private val ShowGrantsRe =
    """(?is)SHOW\s+GRANTS(?:\s+FOR\s+USER\s+'([^']*)')?\s*;?""".r

  /** Session conf naming the result-cache root ([[graft.core.ResultCache]]);
    * when set, UPSERT statements reclaim the pre-append version's entries. */
  val ResultCacheDirKey = "graft.sql.resultCacheDir"
  private val AdmitVectorsRe =
    """(?is)ADMIT\s+VECTORS\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+INTO\s+'([^']+)'\s*;?""".r
  private val PromoteVectorDeltaRe =
    """(?is)PROMOTE\s+VECTOR\s+INDEX\s+DELTA\s+'([^']+)'\s*;?""".r
  private val ShowVersionRe = """(?is)SHOW\s+VERSION\s*;?""".r
  // user management (reference Statement.scala:40,56-58 + SqlParser.scala:
  // 348-373): quoted usernames start with a letter then [A-Za-z0-9_-]
  // (the reference's `username` parser); passwords are salted-hashed
  // into the registry and validated at bind (see [[UserRegistry]])
  private val ShowUsersRe = """(?is)SHOW\s+USERS\s*;?""".r
  // CREATE/ALTER USER head-match the statement up to the username, then
  // [[userClauses]] parses the clause tail in EITHER order (the
  // reference grammar accepts `WITH PASSWORD … WITH ROLE …` and the
  // reverse — SqlParser.scala:337-344,358-365) and raises a TARGETED
  // graft syntax error on a malformed tail instead of falling through
  // to the delegate Spark parser's unrelated error. CREATE introduces
  // clauses with WITH (no '='), ALTER with SET ('=') — '=' is accepted
  // leniently in both.
  private val CreateUserHeadRe = """(?is)CREATE\s+USER\s+'([^']*)'\s*(.*?)\s*;?\s*""".r
  private val AlterUserHeadRe = """(?is)ALTER\s+USER\s+'([^']*)'\s*(.*?)\s*;?\s*""".r
  private val UserClauseRe = """(?is)(WITH|SET)\s+(PASSWORD|ROLE)\s*(?:=\s*)?'([^']*)'\s*(.*)""".r
  private val UsernameRe = """[A-Za-z][A-Za-z0-9_\-]*""".r
  private val DropUserRe =
    """(?is)DROP\s+USER\s+'([A-Za-z][A-Za-z0-9_\-]*)'\s*;?""".r

  /** Parse a CREATE/ALTER USER clause tail: zero-to-two `kw PASSWORD
    * [=] '…'` / `kw ROLE [=] '…'` clauses in either order. Raises a
    * targeted graft error on a malformed or duplicated clause. */
  private[sql] def userClauses(
      verb: String, kw: String, tail: String): (Option[String], Option[String]) = {
    var pw: Option[String] = None
    var role: Option[String] = None
    var rest = tail.trim
    while (rest.nonEmpty) rest match {
      case UserClauseRe(k, what, value, more) if k.equalsIgnoreCase(kw) =>
        if (what.equalsIgnoreCase("PASSWORD")) {
          if (pw.isDefined) throw new IllegalArgumentException(
            s"[GRAFT] $verb USER: duplicate $kw PASSWORD clause")
          pw = Some(value)
        } else {
          if (role.isDefined) throw new IllegalArgumentException(
            s"[GRAFT] $verb USER: duplicate $kw ROLE clause")
          role = Some(value)
        }
        rest = more.trim
      case _ =>
        throw new IllegalArgumentException(
          s"[GRAFT] $verb USER: malformed clause near '$rest' — expected " +
            s"[$kw PASSWORD = '…'] [$kw ROLE = '…'] in either order")
    }
    (pw, role)
  }

  /** Validate the reference's `username` shape (a letter then
    * letters/digits/_/-) with a targeted error. */
  private[sql] def validUsername(verb: String, name: String): String = {
    if (!UsernameRe.pattern.matcher(name).matches())
      throw new IllegalArgumentException(
        s"[GRAFT] $verb USER: invalid username '$name' — must start with a letter " +
          "and contain only letters, digits, '_' or '-'")
    name
  }
  // FIT/UPDATE DSIR parse in two stages: the head regex claims the
  // statement up to TARGET, then [[dsirTarget]] extracts the predicate
  // by BALANCED-paren scan (a regex `\((.+?)\)` stops at the first ')',
  // so `TARGET (source IN ('a', 'b'))` or a quoted ')' would silently
  // fall through to the delegate Spark parser and surface as an
  // unrelated parse error), and the tail regex parses what follows.
  // Once the head matches, a malformed remainder raises a TARGETED
  // graft syntax error — never a confusing delegate one.
  private val FitDsirHeadRe =
    """(?is)FIT\s+DSIR\s+MODEL\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+TARGET\s*(\(.*)""".r
  private val FitDsirTailRe =
    """(?is)\s*(?:ON\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?(?:\s*BUCKETS\s+(\d+))?\s*;?\s*""".r
  private val UpdateDsirHeadRe =
    """(?is)UPDATE\s+DSIR\s+MODEL\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)\s+TARGET\s*(\(.*)""".r
  private val UpdateDsirTailRe =
    """(?is)\s*(?:ON\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?\s*BATCH\s+'([^']+)'\s*;?\s*""".r
  private val ShowDsirRe = """(?is)SHOW\s+DSIR\s+MODEL\s+'([^']+)'\s*;?""".r
  private val ScreenDsirRe =
    """(?is)SCREEN\s+DSIR\s+'([^']+)'\s+FROM\s+([A-Za-z_][A-Za-z0-9_.]*)(?:\s+ON\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*,\s*([A-Za-z_][A-Za-z0-9_]*)\s*\))?(?:\s+MIN\s+LOGW\s+(-?[0-9.]+))?\s*;?""".r
  private val UpsertRe =
    """(?is)UPSERT\s+INTO\s+([A-Za-z_][A-Za-z0-9_.]*)\s*\(([^)]*)\)\s+VALUES\s+(.+?)\s*;?\s*""".r

  /** Extract the DSIR TARGET predicate from `rest` (which starts at its
    * opening '(') by balanced-paren scan, honoring single-quoted
    * strings (a quoted ')' does not close the group). Returns
    * (predicate, remainder-after-close); raises a TARGETED syntax
    * error on unbalanced input. */
  private[sql] def dsirTarget(rest: String, stmt: String): (String, String) = {
    var i = 0
    var depth = 0
    var inQuote = false
    while (i < rest.length) {
      val c = rest.charAt(i)
      if (inQuote) { if (c == '\'') inQuote = false }
      else c match {
        case '\'' => inQuote = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return (rest.substring(1, i), rest.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw dsirSyntaxError("FIT/UPDATE DSIR MODEL",
      "TARGET (<bool-expr>) — unbalanced parentheses in the TARGET predicate", stmt)
  }

  private[sql] def dsirSyntaxError(verb: String, expected: String, stmt: String): RuntimeException =
    new IllegalArgumentException(
      s"[GRAFT] malformed $verb statement; after TARGET (<bool-expr>) expected: $expected. Statement: $stmt")

  /** Library version (build.sbt ThisBuild / version). */
  val Version = "0.1.0"

  private[sql] def attr(name: String, dt: DataType): Attribute = AttributeReference(name, dt, nullable = true)()
}

/**
 * Registry of UPSERT-able tables: name → (schema table, log path). A
 * registered table gets a merge-on-read temp view under its name
 * (latest version per (time, dims) key wins), refreshed after every
 * UPSERT batch — the reader surface of the log-structured store.
 */
object UpsertTables {
  final case class Entry(table: graft.schema.GTable, logPath: String) {
    def keys: Seq[String] = table.timeColumn +: table.dimensionNames
  }
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def register(spark: SparkSession, table: graft.schema.GTable, logPath: String): Unit = {
    entries.put(table.name, Entry(table, logPath))
    refreshView(spark, table.name)
  }
  def unregister(name: String): Unit = entries.remove(name)
  def get(name: String): Option[Entry] = Option(entries.get(name))

  /** (Re)create the table's merge-on-read view if its log exists. */
  def refreshView(spark: SparkSession, name: String): Unit =
    get(name).foreach { e =>
      val p = new org.apache.hadoop.fs.Path(e.logPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        graft.sources.Upsert.readLatest(spark, e.logPath, e.keys).createOrReplaceTempView(name)
    }

  /** Next version seq for the log (max existing + 1; 0 for a new log).
    * List-then-write is NOT atomic across writers: [[UpsertCommand]]
    * serializes statements within this JVM (per-table lock), and the
    * parquet log assumes a SINGLE WRITER per table across processes —
    * the standard contract for file logs without a transaction
    * manager (concurrent external writers computing the same seq would
    * silently overwrite each other's version partition). */
  def nextSeq(spark: SparkSession, logPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(logPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else
      fs.listStatus(p).iterator.map(_.getPath.getName)
        .filter(_.startsWith("__seq="))
        .map(_.stripPrefix("__seq=").toLong)
        .foldLeft(-1L)(math.max) + 1L
  }

  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sql] def lockFor(name: String): Object =
    tableLocks.computeIfAbsent(name, _ => new Object)
}

// The commands delegate to the graft.sql.Catalog helpers (the
// programmatic admin surface) so the SQL statements and the Scala API
// cannot drift apart — one row-shaping implementation each.

/** SHOW QUERY METRICS [WHERE ...] [LIMIT n] — recorded query
  * durations/rows/state, optionally filtered (reference MetricsFilter). */
case class ShowQueryMetricsCommand(
    limit: Int,
    queryId: Option[String] = None,
    state: Option[String] = None
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("query", StringType), attr("duration_ms", DoubleType), attr("output_rows", LongType), attr("state", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Queries, GraftAuth.Read)
    Catalog.showQueryMetrics(spark, graft.core.QueryMetrics.forSession(spark), limit, queryId, state)
      .collect().toSeq
  }
}

/** DELETE QUERY METRICS [WHERE ...] — clear the matching metrics. */
case class DeleteQueryMetricsCommand(
    queryId: Option[String] = None,
    state: Option[String] = None
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("deleted", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Queries, GraftAuth.Write)
    Catalog.deleteQueryMetrics(spark, graft.core.QueryMetrics.forSession(spark), queryId, state)
      .collect().toSeq
  }
}

/** KILL QUERY '<job-group>' — cancel all running jobs in the group. */
case class KillQueryCommand(jobGroup: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("job_group", StringType), attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Queries, GraftAuth.Write)
    Catalog.killQuery(spark, jobGroup).collect().toSeq
  }
}

/** SHOW UPDATES_INTERVALS '<changelog-dir>' — dirty rollup buckets. */
case class ShowUpdatesIntervalsCommand(changelogDir: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("bucket", StringType), attr("pending_seq", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Queries, GraftAuth.Read)
    Catalog.showUpdatesIntervals(spark, changelogDir).collect().toSeq
  }
}

/** SHOW EXTERNAL LINKS — the config-declared dimension catalogs
  * ([[graft.sources.JsonCatalogs]]): one row per declared link, the
  * connection password never echoed. */
case class ShowExternalLinksCommand() extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("link_name", StringType), attr("dimension", StringType),
    attr("relation", StringType), attr("url", StringType), attr("fields", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    graft.sources.DeclaredLinks.all.map { cfg =>
      val d = cfg.description
      Row(d.linkName, d.dimensionName, cfg.relation, cfg.connection.url,
        d.fieldsNames.mkString(","))
    }
  }
}

/** SHOW INDEX DRIFT FOR '<index-path>' USING '<vectors>' — the IVF
  * drift statistic ([[graft.operators.Ann.ivfDriftFraction]]) as an
  * admin statement: the fraction of the probe vectors whose
  * quantization error exceeds the index's train-time p95 (~0.05 on
  * same-distribution data, → 1.0 under distribution shift, 1.0 for an
  * index with no/unreadable stats). `USING` names a parquet directory
  * (contains '/') or a registered table with an `embedding` column. */
case class ShowIndexDriftCommand(indexPath: String, source: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("probe_source", StringType),
    attr("drift_fraction", org.apache.spark.sql.types.DoubleType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    val vecs =
      (if (source.contains('/')) spark.read.parquet(source) else spark.table(source))
        .select(org.apache.spark.sql.functions.col("embedding"))
    Seq(Row(indexPath, source, graft.operators.Ann.ivfDriftFraction(spark, indexPath, vecs)))
  }
}

/** SHOW TEXT INDEX FOR '<path>' — shard inventory + banding geometry
  * of a persisted text-dedup index ([[graft.operators.Dedup.buildTextIndex]]):
  * one row per shard with its signature count, plus the geometry every
  * probe will use. An operator checking "did yesterday's shard land,
  * and what threshold does this index enforce" reads it here instead of
  * writing Scala. */
case class ShowTextIndexCommand(indexPath: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shard", StringType), attr("n_sigs", LongType),
    attr("num_hashes", org.apache.spark.sql.types.IntegerType),
    attr("bands", org.apache.spark.sql.types.IntegerType),
    attr("shingle_size", org.apache.spark.sql.types.IntegerType),
    attr("threshold", DoubleType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    import org.apache.spark.sql.functions.{col, count, lit}
    // Missing or incomplete index (no meta — the build writes it LAST,
    // so sigs-without-meta is a crashed build) → empty inventory, not a
    // PATH_NOT_FOUND stack trace: the admin plane degrades gracefully
    // like SHOW INDEX DRIFT's missing-index sentinel.
    graft.operators.Dedup.TextIndexGeometry.find(spark, indexPath) match {
      case None => Seq.empty
      case Some(geom) =>
        spark.read.parquet(s"$indexPath/sigs")
          .groupBy(col("shard")).agg(count(lit(1)).as("n"))
          .orderBy(col("shard"))
          .collect().toSeq
          .map(r => Row(indexPath, r.getString(0), r.getLong(1),
            geom.numHashes, geom.bands, geom.shingleSize, geom.threshold))
    }
  }
}

/** COMPACT TEXT INDEX '<path>' — fold accumulated admission shards
  * back into the single `shard=__base` partition
  * ([[graft.operators.Dedup.compactTextIndex]] — restartable
  * rename-swap, see its scaladoc for the crash-window argument).
  * Reports the shard dirs folded and the surviving signature rows
  * (from parquet footers — no Spark job), so a scheduled maintenance
  * statement leaves an auditable line. */
case class CompactTextIndexCommand(indexPath: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shards_compacted", LongType), attr("n_sigs", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(indexPath), GraftAuth.Write)
    val folded = graft.operators.Dedup.compactTextIndexImpl(spark, indexPath, () => ())
    Seq(Row(indexPath, folded.toLong,
      graft.core.DirCache.parquetRowCount(spark, s"$indexPath/sigs")))
  }
}

/** ADMIT SHARD '<name>' FROM <probe> INTO '<path>' USING <ref>
  * [ON (<id>, <text>)] — the per-shard admission cycle
  * ([[graft.operators.Dedup.admitShard]]) as one statement: probe the
  * index for cross-corpus near-duplicates, append only the NOVEL
  * documents' signatures under the shard name, report how many were
  * admitted vs rejected. Replay-safe like the Scala form (a re-run
  * excludes its own shard's index rows and converges). The admitted
  * count is read back from the shard's written signatures — the one
  * number that reflects what the index now actually holds. */
case class AdmitShardCommand(
    shard: String,
    probeTable: String,
    indexPath: String,
    refTable: String,
    idCol: String,
    textCol: String
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shard", StringType),
    attr("admitted", LongType), attr("rejected", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(indexPath), GraftAuth.Write)
    val probe = spark.table(probeTable)
    val ref = spark.table(refTable)
    graft.operators.Dedup.admitShard(probe, indexPath, ref, idCol, textCol, shard)
    val admitted = spark.read.parquet(
      s"$indexPath/sigs/${graft.core.ShardStore.dirName(shard)}").count()
    Seq(Row(indexPath, shard, admitted, probe.count() - admitted))
  }
}

/** ADMIT SHARD '<name>' FROM <probe> INTO TABLE <t> DELTA '<path>'
  * USING <ref> [ON (<id>, <text>)] — the base+delta admission cycle
  * ([[graft.operators.Dedup.admitShardBucketed]]): candidates from the
  * zero-exchange bucketed base table PLUS the parquet delta side-index
  * (shards admitted since the last promotion — without it, yesterday's
  * admission is invisible to today's probe), novel survivors appended
  * to the delta under the shard name. Reports admitted/rejected counts
  * read back from the written shard. */
case class AdmitShardBucketedCommand(
    shard: String,
    probeTable: String,
    tableName: String,
    deltaPath: String,
    refTable: String,
    idCol: String,
    textCol: String
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("table", StringType), attr("delta", StringType), attr("shard", StringType),
    attr("admitted", LongType), attr("rejected", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Table(Some(tableName)), GraftAuth.Write)
    val probe = spark.table(probeTable)
    val ref = spark.table(refTable)
    graft.operators.Dedup.admitShardBucketed(
      probe, tableName, deltaPath, ref, idCol, textCol, shard)
    val admitted = spark.read.parquet(
      s"$deltaPath/sigs/${graft.core.ShardStore.dirName(shard)}").count()
    Seq(Row(tableName, deltaPath, shard, admitted, probe.count() - admitted))
  }
}

/** PROMOTE TEXT INDEX DELTA '<path>' INTO TABLE <t> — fold the delta
  * side-index into the bucketed base from signatures alone
  * ([[graft.operators.Dedup.promoteTextIndexDelta]] — restartable
  * staged merge, corpus-derived bucket resize, never a text re-scan).
  * Reports shards folded and the rebuilt table's row/bucket counts. */
case class PromoteTextIndexDeltaCommand(
    tableName: String,
    deltaPath: String
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("table", StringType), attr("delta", StringType),
    attr("shards_promoted", LongType), attr("n_rows", LongType), attr("num_buckets", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Table(Some(tableName)), GraftAuth.Write)
    val folded = graft.operators.Dedup.promoteTextIndexDeltaImpl(spark, tableName, deltaPath, () => ())
    val buckets = graft.operators.Dedup.TextIndexGeometry.readTable(spark, tableName)
      .numBuckets.fold(0L)(_.toLong)
    Seq(Row(tableName, deltaPath, folded.toLong, spark.table(tableName).count(), buckets))
  }
}

/** SHOW VECTOR INDEX FOR '<path>' — inventory a persisted IVF index
  * ([[graft.operators.Ann.buildIvfIndex]]): the base assignments plus
  * every committed delta shard ([[graft.operators.Ann.appendToIvfIndex]])
  * with vector and cell counts — the operator's view of what a probe
  * will serve and how much delta has accumulated since the last
  * promotion. Missing or geometry-less index (no centroids — the
  * quantizer IS the index's identity) → empty inventory, matching
  * SHOW TEXT INDEX's graceful degradation. */
case class ShowVectorIndexCommand(indexPath: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shard", StringType),
    attr("n_vectors", LongType), attr("n_cells", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    import org.apache.spark.sql.functions.{col, countDistinct}
    val centsPath = new org.apache.hadoop.fs.Path(s"$indexPath/centroids/_SUCCESS")
    val fs = centsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(centsPath)) return Seq.empty
    def counts(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(org.apache.spark.sql.functions.count(col("item_id")),
        countDistinct(col("cell"))).head()
      (r.getLong(0), r.getLong(1))
    }
    // family-aware (one statement for both index families, like SHOW
    // INDEX DRIFT): a PQ index's rows live under `codes`
    val (baseDir, _) = graft.operators.Ann.vecDirs(spark, indexPath)
    val basePath = new org.apache.hadoop.fs.Path(s"$indexPath/$baseDir/_SUCCESS")
    val base =
      if (!fs.exists(basePath)) Seq.empty
      else {
        val (n, c) = counts(spark.read.parquet(s"$indexPath/$baseDir"))
        Seq(Row(indexPath, "__base", n, c))
      }
    val shards = graft.operators.Ann.readableVecShardDirs(spark, indexPath)
      .sortBy(_.getName)
      .map { p =>
        val (n, c) = counts(spark.read.parquet(p.toString))
        // un-escape the partition-dir encoding so the inventory names
        // round-trip with what ADMIT VECTORS reported ('day 1', not
        // 'day%201')
        Row(indexPath, graft.core.ShardStore.label(p), n, c)
      }
    base ++ shards
  }
}

/** ADMIT VECTORS '<shard>' FROM <table> INTO '<path>' — the vector
  * admission cycle ([[graft.operators.Ann.appendToIvfIndex]]) as one
  * statement: one narrow assignment pass over the new batch appends it
  * as a searchable delta shard, and the reported drift fraction (the
  * batch's quantization error vs the index's train-time p95,
  * [[graft.operators.Ann.ivfDriftFraction]]) is the rebuild signal a
  * scheduled maintenance job thresholds on. Replay-safe like the Scala
  * form (a shard overwrites its own dir). */
case class AdmitVectorsCommand(
    shard: String,
    probeTable: String,
    indexPath: String
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shard", StringType),
    attr("admitted", LongType), attr("drift_fraction", DoubleType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(indexPath), GraftAuth.Write)
    val vecs = spark.table(probeTable)
    val drift = graft.operators.Ann.admitVectorsMeasured(vecs, indexPath, shard)
    val (_, deltaDir) = graft.operators.Ann.vecDirs(spark, indexPath)
    // an EMPTY admitted batch commits a data-less shard dir — count it
    // as zero instead of crashing schema inference on a fileless read
    val shardDir = s"$indexPath/$deltaDir/${graft.core.ShardStore.dirName(shard)}"
    val admitted =
      if (graft.core.ShardStore.isCommitted(spark, shardDir)) spark.read.parquet(shardDir).count()
      else 0L
    Seq(Row(indexPath, shard, admitted, drift))
  }
}

/** PROMOTE VECTOR INDEX DELTA '<path>' — fold accumulated vector delta
  * shards into the base assignments
  * ([[graft.operators.Ann.promoteIvfDelta]] — restartable staged merge,
  * snapshot-scoped cleanup, never a re-quantization). Reports shards
  * folded and the rebuilt base's vector count. */
case class PromoteVectorIndexDeltaCommand(indexPath: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("index", StringType), attr("shards_promoted", LongType), attr("n_vectors", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(indexPath), GraftAuth.Write)
    val folded = graft.operators.Ann.promoteIvfDeltaImpl(spark, indexPath, () => ())
    val (baseDir, _) = graft.operators.Ann.vecDirs(spark, indexPath)
    // the base row count from its footers: no schema-inference or count job
    Seq(Row(indexPath, folded.toLong, graft.core.DirCache.parquetRowCount(spark, s"$indexPath/$baseDir")))
  }
}

/** SHOW VERSION — engine + Spark versions (reference
  * QueryEngineRouter.scala:83). */
/** FIT DSIR MODEL '<path>' FROM <t> TARGET (<expr>) [ON (id, text)]
  * [BUCKETS n] — fit + persist the hashed-unigram importance model
  * ([[graft.operators.Dsir.fit]]); reports the stored geometry. */
case class FitDsirModelCommand(
    path: String,
    table: String,
    targetSql: String,
    idCol: String,
    textCol: String,
    buckets: Int
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("model", StringType), attr("buckets", LongType),
    attr("n_target_tokens", LongType), attr("n_raw_tokens", LongType),
    attr("ratio_rows", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(path), GraftAuth.Write)
    graft.operators.Dsir.fit(spark.table(table), idCol, textCol,
      org.apache.spark.sql.functions.expr(targetSql), buckets, path)
    val (b, nt, nr, _) = graft.operators.Dsir.readMeta(spark, path)
    Seq(Row(path, b.toLong, nt, nr, graft.operators.Dsir.ratiosOf(spark, path).count()))
  }
}

/** UPDATE DSIR MODEL '<path>' FROM <t> TARGET (<expr>) [ON (id, text)]
  * BATCH '<label>' — incremental model refresh
  * ([[graft.operators.Dsir.update]]): adds the batch's bucket counts
  * to the stored sufficient statistics and serves the next generation;
  * O(batch), exactly the from-scratch refit on the union, idempotent
  * per BATCH label. Reports the new geometry. */
case class UpdateDsirModelCommand(
    path: String,
    table: String,
    targetSql: String,
    idCol: String,
    textCol: String,
    batch: String
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("model", StringType), attr("generation", LongType), attr("batch", StringType),
    attr("n_target_tokens", LongType), attr("n_raw_tokens", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(path), GraftAuth.Write)
    graft.operators.Dsir.update(spark.table(table), idCol, textCol,
      org.apache.spark.sql.functions.expr(targetSql), path, batch)
    val m = graft.operators.Dsir.readMetaRow(spark, path)
    Seq(Row(path, m.getAs[Long]("generation"), m.getAs[String]("batch"),
      m.getAs[Long]("nt"), m.getAs[Long]("nr")))
  }
}

/** SHOW DSIR MODEL '<path>' — the persisted model's geometry row
  * (refuses a model without meta: a crashed fit never serves). */
case class ShowDsirModelCommand(path: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("model", StringType), attr("buckets", LongType),
    attr("n_target_tokens", LongType), attr("n_raw_tokens", LongType),
    attr("default_q", LongType), attr("ratio_rows", LongType),
    attr("generation", LongType), attr("batch", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    val m = graft.operators.Dsir.readMetaRow(spark, path)
    Seq(Row(path, m.getAs[Int]("buckets").toLong, m.getAs[Long]("nt"), m.getAs[Long]("nr"),
      m.getAs[Long]("default_q"), graft.operators.Dsir.ratiosOf(spark, path).count(),
      m.getAs[Long]("generation"), m.getAs[String]("batch")))
  }
}

/** SCREEN DSIR '<path>' FROM <t> [ON (id, text)] [MIN LOGW x] — score
  * the table against the frozen model
  * ([[graft.operators.Dsir.scoreWithModel]]) and report kept/rejected
  * counts at the threshold; the bounded admission report, not the
  * per-doc rows (SELECT those through the Scala surface). */
case class ScreenDsirCommand(
    path: String,
    table: String,
    idCol: String,
    textCol: String,
    minLogw: Double
) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("model", StringType), attr("scored", LongType),
    attr("kept", LongType), attr("rejected", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Table(Some(table)), GraftAuth.Read)
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    val agg = graft.operators.Dsir.scoreWithModel(spark.table(table), idCol, textCol, path)
      .agg(count(lit(1)),
        coalesce(sum(when(col("logw") >= lit(minLogw), 1L).otherwise(0L)), lit(0L)))
      .head()
    val (n, kept) = (agg.getLong(0), agg.getLong(1))
    Seq(Row(path, n, kept, n - kept))
  }
}

case class ShowVersionCommand() extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("component", StringType), attr("version", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    Seq(Row("graft", GraftSqlParser.Version), Row("spark", spark.version))
  }
}

/**
 * Registry behind the user-management statements (reference
 * Statement.scala:40,56-58 → QueryEngineRouter.scala:111-164,
 * UserManager/TsdbRole): name → role, role names exactly the
 * reference's (DISABLED / READ_ONLY / READ_WRITE / ADMIN, DISABLED
 * the CREATE default, names case-normalized like `roleByName`).
 *
 * PASSWORDS (r16): `WITH/SET PASSWORD = '…'` is stored as a salted
 * PBKDF2 hash and VALIDATED whenever the principal binds — see
 * [[UserRegistry.hashPassword]] and [[GraftAuth.check]] (reference
 * UserManager.hashPassword/validateUser + DaoAuthorizer). Earlier
 * rounds discarded the secret because no store and no wire existed;
 * both shipped in r15, so the hash now has somewhere to live and a
 * login path to gate.
 */
/**
 * Role-based statement AUTHORIZATION (r14; reference
 * auth/PermissionService.scala + auth/TsdbRole.scala permissions
 * tables, enforcement points QueryEngineRouter.scala:66-168): every
 * graft statement checks the CURRENT USER's role before running.
 *
 * The current user is the session conf `graft.sql.user`:
 *  - unset → the reference's NonEmptyUserAuthorizer default (an
 *    unnamed session acts as ADMIN — this is also the bootstrap path:
 *    somebody must be able to CREATE the first user);
 *  - set to a registered name → the `graft.sql.password` conf (unset
 *    = "") must verify against the stored hash; then that user's
 *    [[UserRegistry]] role applies;
 *  - set to an unknown name, or a name whose password fails to
 *    verify → refused with the reference DaoAuthorizer's
 *    "Invalid user or password" (one indistinguishable error for
 *    both, as in the reference).
 *
 * Role → permission tables are the reference's verbatim
 * (TsdbRole.scala:24-52): DISABLED nothing; READ_ONLY table reads +
 * metadata + query-metrics reads; READ_WRITE adds table writes;
 * ADMIN everything (only ADMIN touches users or kills queries).
 * Graft-only maintenance verbs (index admission/promotion/compaction,
 * DSIR fit/update) are table WRITES against their index/model path —
 * the extension is documented here, everything else maps 1:1.
 * Denials surface as the reference's error shape:
 * "User <name> doesn't have enough permissions".
 *
 * TRUST MODEL — the (user, password) conf pair is a real credential
 * check (r16): whoever holds a session can CLAIM any name, but the
 * claim only binds if the password verifies against the stored hash,
 * so a session cannot elevate to a password-protected principal it
 * does not hold the secret for. The residual trust gap is the
 * UNNAMED session (conf unset = bootstrap ADMIN, the reference's
 * NonEmptyUserAuthorizer default): a deployment that must close it
 * binds the conf pair from the wire login at the server boundary and
 * rejects unnamed sessions there — the reference has the same split
 * (its PermissionService trusts the YupanaUser its wire protocol
 * authenticated).
 */
object GraftAuth {
  val UserConfKey = "graft.sql.user"
  /** Session conf carrying the bound principal's password — validated
    * against the stored salted hash on every [[check]] (reference
    * DaoAuthorizer.authorize → UserManager.validateUser,
    * auth/DaoAuthorizer.scala:23-26, UserManager.scala:42-46). Unset
    * reads as the empty password, the reference's
    * `password.getOrElse("")`. */
  val PasswordConfKey = "graft.sql.password"

  sealed trait Action
  case object Read extends Action
  case object Write extends Action

  sealed trait Subject
  /** A data table named by a SQL IDENTIFIER. `name` is the reference
    * Permission model's per-table scope
    * (Permission[Option[String], Action]): the role matrix grants
    * all-tables as before, and a named table can ADDITIONALLY be
    * granted per-user (GRANT READ|WRITE ON TABLE … TO USER …,
    * [[UserRegistry.grant]]) — [[check]] consults those grants when
    * the matrix denies. Identifier matching is case-insensitive. */
  case class Table(name: Option[String]) extends Subject
  /** A table-like data object addressed by a FILESYSTEM PATH — the
    * index/model/cache dirs the maintenance verbs authorize against.
    * Same permission rows as [[Table]]; grant matching is EXACT
    * (paths never case-fold — GRANT … ON PATH '…'). The statement
    * knows which of the two shapes its subject is, so no heuristic
    * classification happens anywhere. */
  case class PathTable(path: String) extends Subject
  case object Users extends Subject
  case object Metadata extends Subject
  case object Queries extends Subject

  /** The reference permissions tables, flattened (TsdbRole.scala). */
  private[graft] def permits(role: String, subject: Subject, action: Action): Boolean =
    role match {
      case "ADMIN" => true
      case "READ_WRITE" =>
        subject match {
          case Table(_) | PathTable(_) => true
          case Metadata => true
          case Queries => action == Read
          case Users => false
        }
      case "READ_ONLY" =>
        subject match {
          case Table(_) | PathTable(_) => action == Read
          case Metadata => true
          case Queries => action == Read
          case Users => false
        }
      case _ => false // DISABLED (and anything unknown) may do nothing
    }

  /** The enforcement point every statement's run() calls first:
    * password validation (reference DaoAuthorizer — a named principal
    * whose password does not verify is refused outright), then the
    * role matrix, elevated by per-table/per-path grants
    * (reference Permission[Option[String], Action] — a grant names ONE
    * subject; the matrix is the Permission(None, …) all-tables row).
    * Grants elevate ONLY the enabled reader/writer roles: DISABLED is
    * the kill switch — demoting a user to it must close every door,
    * dormant grants included — and ADMIN needs no elevation. Role,
    * password hash, and grants are read as ONE locked snapshot so a
    * same-JVM session bound to a different store path cannot swap the
    * registry between the lookups. */
  def check(spark: SparkSession, subject: Subject, action: Action): Unit = {
    spark.conf.getOption(UserConfKey).map(_.trim).filter(_.nonEmpty) match {
      case None => () // unnamed session = NonEmptyUserAuthorizer ADMIN
      case Some(name) =>
        val pw = spark.conf.getOption(PasswordConfKey).getOrElse("")
        val (role, userGrants) = UserRegistry.validate(spark, name, pw)
          .getOrElse(throw new SecurityException("Invalid user or password"))
        val act = if (action == Write) "WRITE" else "READ"
        val granted = (role == "READ_ONLY" || role == "READ_WRITE") && (subject match {
          case Table(Some(t)) =>
            userGrants.contains(("T", t.toLowerCase(java.util.Locale.ROOT), act))
          case PathTable(p) => userGrants.contains(("P", p, act))
          case _ => false
        })
        if (!permits(role, subject, action) && !granted)
          throw new SecurityException(s"User $name doesn't have enough permissions")
    }
  }
}

/**
 * User + grant registry, optionally PERSISTENT (reference
 * UserManager.scala + dao/UserDao.scala persist users in the TSDB's
 * own store; graft persists to one small control-plane file named by
 * the session conf [[UserRegistry.StorePathKey]]). Unset conf → the
 * r11 behavior: a per-JVM in-memory registry. Set → the file is
 * AUTHORITATIVE: every statement syncs from it first (a cheap
 * FileStatus stat; reload only when the (mtime, length) signature
 * moved), every mutation writes a full staged snapshot and publishes
 * it with an atomic overwrite rename — so CREATE USER survives a
 * restart and propagates across sessions/processes sharing the path.
 * The snapshot is tiny (one line per user/grant) and goes through the
 * Hadoop filesystem of the path, so shared deployments point it at
 * shared storage. Concurrent writers are last-snapshot-wins — the
 * reference delegates this to its DB; a control-plane file keeps the
 * zero-dependency scope documented in the r11 note below.
 *
 * PASSWORDS are stored as salted PBKDF2-HmacSHA256 hashes (reference
 * UserManager.hashPassword/verifyPassword, auth/UserManager.scala:
 * 25-46 — the reference uses bcrypt cost 12; graft uses the JDK's
 * PBKDF2 at a comparable work factor to stay zero-dependency) and
 * validated on every [[GraftAuth.check]] (DaoAuthorizer semantics).
 * A CREATE USER without WITH PASSWORD stores the hash of "" — exactly
 * the reference's `password.getOrElse("")` — so such a user binds
 * with an unset/empty `graft.sql.password` and nothing else.
 * Snapshots written before r16 carry no hash column: those users
 * load with NO password check (the migration path; ALTER USER SET
 * PASSWORD upgrades them in place).
 *
 * GRANT SUBJECTS are kind-tagged: "T" = a SQL identifier table
 * (case-insensitive — stored lowercased), "P" = a filesystem path
 * (matched exactly; paths never case-fold). The kind comes from the
 * GRANT statement's explicit grammar (ON TABLE <ident> vs ON PATH
 * '<path>'), never from inspecting the string's shape; pre-r16 rows
 * are classified once at load by the old identifier-shape rule.
 * Grants are the reference's Permission[Option[String], Action]
 * scoped grants (PermissionService.scala), consulted by
 * [[GraftAuth.check]] as an additive elevation over the role matrix.
 *
 * The registry state is KEYED BY STORE PATH: each bound path (and the
 * unset-path in-memory slot) holds its own (users, grants) maps, so a
 * store-bound session never wipes or reloads a same-JVM session
 * running against a different path or in memory.
 */
object UserRegistry {
  val Roles: Seq[String] = Seq("DISABLED", "READ_ONLY", "READ_WRITE", "ADMIN")
  /** Session conf naming the persistent store file; unset = in-memory only. */
  val StorePathKey = "graft.sql.userStore.path"

  /** role + optional password hash ([[hashPassword]] format); None =
    * a pre-r16 snapshot row — no password check (migration path). */
  private final case class UserRec(role: String, pwHash: Option[String])
  // grants: name -> set of (kind "T"|"P", subject, "READ"|"WRITE")
  private final class RegState {
    val users = new java.util.concurrent.ConcurrentHashMap[String, UserRec]()
    val grants = new java.util.concurrent.ConcurrentHashMap[String, Set[(String, String, String)]]()
    // (mtime, length) of the snapshot last loaded into this slot
    var loadedSig: Option[(Long, Long)] = None
    // when that load happened: the (mtime, length) signature can miss a
    // same-length update landing within one mtime tick (coarse-mtime
    // filesystems; ALTER ROLE READ_ONLY→READ_WRITE is same-length), so
    // past this staleness window the tiny snapshot is re-read even on
    // an unchanged signature — peer-JVM staleness is bounded at ~2 s
    // instead of "until some other mutation moves the file"
    var loadedAtMs: Long = 0L
  }
  // one slot per store path; "" = the unset-path in-memory registry
  private val states = new java.util.concurrent.ConcurrentHashMap[String, RegState]()

  private def normRole(role: Option[String]): String = {
    val r = role.map(_.toUpperCase(java.util.Locale.ROOT)).getOrElse("DISABLED")
    if (!Roles.contains(r))
      throw new IllegalArgumentException(s"Invalid role name '${role.get}'")
    r
  }

  // ---- password hashing (reference UserManager.hashPassword /
  // verifyPassword re-expressed on the JDK's PBKDF2) ----

  private val PwIters = 60000 // HmacSHA256 rounds — bcrypt-cost-12-comparable work factor

  private def pbkdf2(pw: String, salt: Array[Byte], iters: Int): Array[Byte] = {
    val spec = new javax.crypto.spec.PBEKeySpec(pw.toCharArray, salt, iters, 256)
    try javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
    finally spec.clearPassword()
  }

  private def b64(b: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(b)

  private[sql] def hashPassword(pw: String): String = {
    val salt = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(salt)
    s"pbkdf2$$$PwIters$$${b64(salt)}$$${b64(pbkdf2(pw, salt, PwIters))}"
  }

  /** Constant-time verify of `pw` against a [[hashPassword]] string;
    * an unparseable/foreign hash verifies nothing (never throws). */
  private[sql] def verifyPassword(pw: String, stored: String): Boolean =
    stored.split('$') match {
      case Array("pbkdf2", it, s, h) =>
        try {
          val dec = java.util.Base64.getDecoder
          java.security.MessageDigest.isEqual(
            pbkdf2(pw, dec.decode(s), it.toInt), dec.decode(h))
        } catch {
          case _: NumberFormatException | _: IllegalArgumentException => false
        }
      case _ => false
    }

  // PBKDF2 is deliberately ~50ms, but auth runs per STATEMENT — cache
  // verified (storedHash, password) outcomes; keying on the stored
  // hash makes a password change invalidate naturally, and negative
  // results are cached too (a wrong password retried per-statement
  // must not be a CPU amplifier). Bounded by occasional full clear.
  private val verifiedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Boolean]()
  private def verifyCached(pw: String, stored: String): Boolean = {
    if (verifiedCache.size > 4096) verifiedCache.clear()
    verifiedCache.computeIfAbsent((stored, pw), _ => verifyPassword(pw, stored))
  }

  private def storePath(spark: SparkSession): Option[String] =
    spark.conf.getOption(StorePathKey).map(_.trim).filter(_.nonEmpty)

  /** The registry slot this session's store-path conf addresses. */
  private def stateFor(spark: SparkSession): RegState =
    states.computeIfAbsent(storePath(spark).getOrElse(""), _ => new RegState)

  /** Pre-r16 G-row migration: classify a legacy heuristic-normalized
    * subject into a kind ONCE at load (identifier-shaped rows were
    * stored lowercased = table grants; anything else was exact = path
    * grants). Live classification is explicit grammar, never this. */
  private def legacyKind(t: String): String =
    if (t.matches("[A-Za-z_][A-Za-z0-9_.]*")) "T" else "P"

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val MaxStalenessMs = 2000L

  /** Reload this session's slot from its bound store when the
    * (mtime, length) signature moved — the read path every statement
    * enters through. No-op for the in-memory slot. Mutations hold the
    * object lock across sync + mutate + persist (the lock is
    * reentrant, so their inner sync/persist calls are fine): without
    * it, two same-JVM sessions bound to DIFFERENT store paths could
    * interleave between another mutation's sync and persist. */
  def sync(spark: SparkSession): Unit = storePath(spark).foreach { path =>
    this.synchronized {
      val st0 = states.computeIfAbsent(path, _ => new RegState)
      val p = new org.apache.hadoop.fs.Path(path)
      val f = fs(spark, p)
      val sig =
        if (f.exists(p)) {
          val st = f.getFileStatus(p)
          (st.getModificationTime, st.getLen)
        } else (-1L, -1L)
      if (!st0.loadedSig.contains(sig) ||
          System.currentTimeMillis() - st0.loadedAtMs > MaxStalenessMs) {
        st0.users.clear(); st0.grants.clear()
        graft.core.TsvStore.read(spark, path).foreach {
          case Array("U", n, r) => // pre-r16: no password hash
            st0.users.put(n, UserRec(r, None))
          case Array("U", n, r, h) =>
            st0.users.put(n, UserRec(r, Some(h)))
          case Array("G", n, t, a) =>
            // pre-r16 heuristic-normalized grant: classify once
            st0.grants.merge(n, Set((legacyKind(t), t, a)), (a0, b0) => a0 ++ b0)
          case Array("G2", n, k, t, a) if k == "T" || k == "P" =>
            st0.grants.merge(n, Set((k, t, a)), (a0, b0) => a0 ++ b0)
          case _ => () // unknown row kind: forward-compat skip
        }
        st0.loadedSig = Some(sig)
        st0.loadedAtMs = System.currentTimeMillis()
      }
    }
  }

  /** Write this session's slot as a full snapshot, staged + atomic
    * overwrite rename. No-op for the in-memory slot. */
  private def persist(spark: SparkSession): Unit = storePath(spark).foreach { path =>
    this.synchronized {
      import scala.jdk.CollectionConverters._
      val st0 = states.computeIfAbsent(path, _ => new RegState)
      val users = st0.users.asScala.toSeq.sortBy(_._1).iterator.map { case (n, rec) =>
        Seq("U", n, rec.role) ++ rec.pwHash }
      val grants = st0.grants.asScala.toSeq.sortBy(_._1).iterator.flatMap { case (n, gs) =>
        gs.toSeq.sorted.map { case (k, t, a) => Seq("G2", n, k, t, a) } }
      graft.core.TsvStore.write(spark, path, users ++ grants)
      val p = new org.apache.hadoop.fs.Path(path)
      val st = fs(spark, p).getFileStatus(p)
      st0.loadedSig = Some((st.getModificationTime, st.getLen))
      st0.loadedAtMs = System.currentTimeMillis()
    }
  }

  /** Reference UserManager.createUser: default role DISABLED, "User
    * already exists" on a duplicate name; the stored hash is of
    * `password.getOrElse("")`, exactly the reference's. */
  def create(spark: SparkSession, name: String, password: Option[String],
      role: Option[String]): Unit = this.synchronized {
    sync(spark)
    val st = stateFor(spark)
    val rec = UserRec(normRole(role), Some(hashPassword(password.getOrElse(""))))
    if (st.users.putIfAbsent(name, rec) != null)
      throw new IllegalArgumentException("User already exists")
    persist(spark)
  }
  /** Reference UserManager.updateUser: "User not found" when absent;
    * SET PASSWORD re-hashes, SET ROLE re-roles, each independently. */
  def update(spark: SparkSession, name: String, password: Option[String],
      role: Option[String]): Unit = this.synchronized {
    sync(spark)
    val st = stateFor(spark)
    val r = role.map(x => normRole(Some(x)))
    val h = password.map(hashPassword)
    val prev = st.users.computeIfPresent(name, (_, old) =>
      UserRec(r.getOrElse(old.role), h.orElse(old.pwHash)))
    if (prev == null) throw new IllegalArgumentException("User not found")
    persist(spark)
  }
  def drop(spark: SparkSession, name: String): Unit = this.synchronized {
    sync(spark)
    val st = stateFor(spark)
    if (st.users.remove(name) == null) throw new IllegalArgumentException("User not found")
    st.grants.remove(name)
    persist(spark)
  }
  def list(spark: SparkSession): Seq[(String, String)] = this.synchronized {
    sync(spark)
    import scala.jdk.CollectionConverters._
    stateFor(spark).users.asScala.toSeq.map { case (n, rec) => (n, rec.role) }.sortBy(_._1)
  }

  /** Add a grant (idempotent). The grantee must exist. `isPath` comes
    * from the statement's explicit ON TABLE / ON PATH grammar. */
  def grant(spark: SparkSession, name: String, subject: String, action: String,
      isPath: Boolean): Unit = this.synchronized {
    sync(spark)
    val st = stateFor(spark)
    if (!st.users.containsKey(name)) throw new IllegalArgumentException("User not found")
    st.grants.merge(name, Set(grantKey(subject, action, isPath)), (a, b) => a ++ b)
    persist(spark)
  }
  /** Remove a grant; "Grant not found" when absent. */
  def revoke(spark: SparkSession, name: String, subject: String, action: String,
      isPath: Boolean): Unit = this.synchronized {
    sync(spark)
    val st = stateFor(spark)
    val key = grantKey(subject, action, isPath)
    val cur = st.grants.getOrDefault(name, Set.empty)
    if (!cur.contains(key)) throw new IllegalArgumentException("Grant not found")
    val next = cur - key
    if (next.isEmpty) st.grants.remove(name) else st.grants.put(name, next)
    persist(spark)
  }
  private def grantKey(subject: String, action: String, isPath: Boolean): (String, String, String) =
    if (isPath) ("P", subject, action)
    else ("T", subject.toLowerCase(java.util.Locale.ROOT), action)

  /** Validate a principal and return (role, grants) as a SINGLE locked
    * snapshot — THE auth read path ([[GraftAuth.check]]): the password
    * must verify against the stored hash (reference
    * UserManager.validateUser — None on an unknown name OR a failed
    * verify; hash-less pre-r16 rows skip the check), and without the
    * lock a same-JVM session bound to a DIFFERENT store path could
    * reload the registry between the lookups. */
  def validate(spark: SparkSession, name: String,
      password: String): Option[(String, Set[(String, String, String)])] =
    this.synchronized {
      sync(spark)
      val st = stateFor(spark)
      Option(st.users.get(name))
        .filter(rec => rec.pwHash.forall(h => verifyCached(password, h)))
        .map(rec => (rec.role, st.grants.getOrDefault(name, Set.empty)))
    }
  /** Role + grants WITHOUT password validation — listing/diagnostic
    * use only; never the statement auth path. */
  def roleAndGrants(
      spark: SparkSession, name: String): Option[(String, Set[(String, String, String)])] =
    this.synchronized {
      sync(spark)
      val st = stateFor(spark)
      Option(st.users.get(name)).map(rec => (rec.role, st.grants.getOrDefault(name, Set.empty)))
    }
  def listGrants(spark: SparkSession, user: Option[String]): Seq[(String, String, String, String)] = this.synchronized {
    sync(spark)
    import scala.jdk.CollectionConverters._
    stateFor(spark).grants.asScala.toSeq
      .filter(kv => user.forall(_ == kv._1))
      .flatMap { case (n, gs) => gs.toSeq.map { case (k, t, a) =>
        (n, if (k == "P") "PATH" else "TABLE", t, a) } }
      .sorted
  }
  def clear(): Unit = { states.clear(); verifiedCache.clear() }
}

/** SHOW USERS — (name, role) rows, name-sorted (reference
  * QueryEngineRouter.listUsers: the NAME/ROLE SimpleResult). */
case class ShowUsersCommand() extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("name", StringType), attr("role", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Read)
    UserRegistry.list(spark).map { case (n, r) => Row(n, r) }
  }
}

/** CREATE USER '<name>' [WITH PASSWORD = '…'] [WITH ROLE = '<role>'] —
  * STATUS OK row (reference singleResult); the password (or "") is
  * salted-hashed into the registry ([[UserRegistry.create]]). */
case class CreateUserCommand(name: String, password: Option[String], role: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Write)
    UserRegistry.create(spark, name, password, role)
    Seq(Row("OK"))
  }
}

/** ALTER USER '<name>' [SET PASSWORD = '…'] [SET ROLE = '<role>'] —
  * STATUS OK row; at least one SET clause required (parser-enforced). */
case class AlterUserCommand(name: String, password: Option[String], role: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Write)
    UserRegistry.update(spark, name, password, role)
    Seq(Row("OK"))
  }
}

/** SHOW RESULT CACHE '<dir>' — one row per complete cached entry
  * (data_key, plan_fp, bytes, files) of the result cache at `dir`
  * ([[graft.core.ResultCache.inventory]]); empty on a missing dir. */
case class ShowResultCacheCommand(cacheDir: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("data_key", StringType), attr("plan_fp", StringType),
    attr("bytes", LongType), attr("files", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    graft.core.ResultCache.inventory(spark, cacheDir).collect().toSeq
  }
}

/** SHOW RESULT CACHE (no directory) — the in-memory result tier as
  * one row: entries, bytes, hits, misses, bypassed
  * ([[graft.core.ResultCache.tierStats]], counted since JVM start). */
case class ShowResultTierCommand() extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("entries", LongType), attr("bytes", LongType), attr("hits", LongType),
    attr("misses", LongType), attr("bypassed", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    val t = graft.core.ResultCache.tierStats
    Seq(Row(t.entries, t.bytes, t.hits, t.misses, t.bypassed))
  }
}

/** INVALIDATE RESULT CACHE '<dir>' [DATA '<data-key>'] — drop every
  * entry (or one data version's entries) of the result cache at `dir`.
  * A cache write is a table write for authorization purposes. */
case class InvalidateResultCacheCommand(cacheDir: String, dataKey: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("cache", StringType), attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(cacheDir), GraftAuth.Write)
    dataKey match {
      case Some(k) => graft.core.ResultCache.invalidateData(spark, cacheDir, k)
      case None => graft.core.ResultCache.invalidateAll(spark, cacheDir)
    }
    Seq(Row(cacheDir, "OK"))
  }
}

/** DROP USER '<name>' — STATUS OK row, "User not found" when absent. */
case class DropUserCommand(name: String) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Write)
    UserRegistry.drop(spark, name)
    Seq(Row("OK"))
  }
}

/** GRANT READ|WRITE ON TABLE <t> | ON PATH '<p>' TO USER '<name>' — a
  * per-subject elevation over the role matrix (reference
  * Permission[Option[String], Action]); granting is a user-management
  * write, so ADMIN-only, like the reference's user mutations. The
  * TABLE/PATH keyword is the EXPLICIT subject-kind declaration: TABLE
  * subjects are SQL identifiers (case-insensitive), PATH subjects are
  * filesystem strings (matched exactly) — no shape heuristic anywhere.
  *
  * Under the SHIPPED role matrix only WRITE grants change an outcome:
  * both enabled roles already read every table, and DISABLED is the
  * kill switch no grant may override — so a READ grant is accepted
  * (the reference Permission model has per-table read scopes, and a
  * future deny-by-default table mode would activate it) but is
  * currently inert. Documented here and in SURVEY §2.13 rather than
  * rejected: surface parity over a confusing refusal. */
case class GrantTableCommand(action: String, subject: String, isPath: Boolean, user: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Write)
    UserRegistry.grant(spark, user, subject, action, isPath)
    Seq(Row("OK"))
  }
}

/** REVOKE READ|WRITE ON TABLE <t> | ON PATH '<p>' FROM USER '<name>'
  * — "Grant not found" when the exact (kind, subject, action) grant
  * is absent. */
case class RevokeTableCommand(action: String, subject: String, isPath: Boolean, user: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Write)
    UserRegistry.revoke(spark, user, subject, action, isPath)
    Seq(Row("OK"))
  }
}

/** SHOW GRANTS [FOR USER '<name>'] — (name, kind, subject, action)
  * rows, sorted (kind = TABLE|PATH); reads of the user surface need
  * the Users Read permission (ADMIN), matching SHOW USERS. */
case class ShowGrantsCommand(user: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("name", StringType), attr("kind", StringType),
      attr("subject", StringType), attr("action", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Users, GraftAuth.Read)
    UserRegistry.listGrants(spark, user).map { case (n, k, t, a) => Row(n, k, t, a) }
  }
}

/** VACUUM RESULT CACHE '<dir>' [OLDER THAN <n> <unit>] — age-based
  * eviction (reference yupana-cache CacheDescription expiry): drops
  * complete entries whose newest file is older than the cutoff (no
  * OLDER THAN → all of them) plus any orphaned populate staging dirs
  * past the cutoff, and reports what went. A cache write, like
  * INVALIDATE. */
case class VacuumResultCacheCommand(cacheDir: String, olderThanMs: Option[Long])
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("cache", StringType), attr("removed_entries", LongType),
      attr("removed_bytes", LongType), attr("status", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.PathTable(cacheDir), GraftAuth.Write)
    val (n, b) = graft.core.ResultCache.vacuum(spark, cacheDir, olderThanMs)
    Seq(Row(cacheDir, n, b, "OK"))
  }
}

/**
 * UPSERT INTO t (cols) VALUES ... — put semantics on a registered
 * log-structured table: key columns (time + dimensions) must all be
 * present, omitted metrics become null, values are cast to the
 * declared column types (the time axis is timestamp — the reference's
 * Time type). The batch lands as ONE new version
 * ([[graft.sources.Upsert.appendVersion]]); re-putting a key shadows
 * the old row on read, never rewrites it in place.
 */
case class UpsertCommand(table: String, cols: Seq[String], valuesSql: String)
    extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] =
    Seq(attr("table", StringType), attr("rows_upserted", LongType), attr("version", LongType))

  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Table(Some(table)), GraftAuth.Write)
    val entry = UpsertTables.get(table).getOrElse(
      throw new IllegalArgumentException(
        s"UPSERT target '$table' is not a registered upsert table (UpsertTables.register)"))
    val t = entry.table
    // identifier comparison is case-insensitive, like the dialect's
    // keywords (and Spark's default resolver): UPSERT INTO t (TS, ...)
    // must find the declared 'ts'
    val colsLower = cols.map(_.toLowerCase(java.util.Locale.ROOT))
    val missingKeys = entry.keys.filterNot(k => colsLower.contains(k.toLowerCase(java.util.Locale.ROOT)))
    require(missingKeys.isEmpty,
      s"UPSERT into '$table' must supply every key column; missing: ${missingKeys.mkString(", ")}")
    val declaredLower = t.columnNames.map(_.toLowerCase(java.util.Locale.ROOT))
    val unknown = cols.filterNot(c => declaredLower.contains(c.toLowerCase(java.util.Locale.ROOT)))
    require(unknown.isEmpty, s"unknown columns for '$table': ${unknown.mkString(", ")}")

    // Spark's own VALUES grammar parses the literal tuples — but the
    // captured tail is raw SQL text, so FIRST prove it is nothing but
    // an inline table of foldable literals: "VALUES (...) UNION ALL
    // SELECT ... FROM t" parses fine and would silently execute the
    // injected query, writing its rows into the upsert log through a
    // statement documented as literal-only
    {
      import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan => LP, Project => LProject, SubqueryAlias => LAlias}
      def strip(p: LP): LP = p match {
        case LProject(_, c) => strip(c)
        case LAlias(_, c) => strip(c)
        case other => other
      }
      strip(spark.sessionState.sqlParser.parsePlan(s"SELECT * FROM VALUES $valuesSql")) match {
        // the parser eagerly evaluates all-literal inline tables into a
        // LocalRelation (already-materialized rows — literal-only by
        // construction); non-literal rows stay UnresolvedInlineTable
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => ()
        case it: org.apache.spark.sql.catalyst.analysis.UnresolvedInlineTable
            if it.rows.forall(_.forall(_.foldable)) => ()
        case other => throw new IllegalArgumentException(
          s"UPSERT VALUES must be literal tuples only, got: ${other.nodeName}")
      }
    }
    val parsed = spark.sql(s"SELECT * FROM VALUES $valuesSql")
    require(parsed.columns.length == cols.length,
      s"UPSERT column list has ${cols.length} names but VALUES rows have ${parsed.columns.length}")
    // canonicalize the (case-insensitively matched) names to the
    // declared spelling so the downstream exact contains()/col() logic
    // sees declared names
    val canonCols = cols.map(c => t.columnNames.find(_.equalsIgnoreCase(c)).getOrElse(c))
    val named = parsed.toDF(canonCols: _*)
    val declared =
      (t.dimensions.map(d => d.name -> d.dataType) ++ t.metrics.map(m => m.name -> m.dataType)).toMap +
        (t.timeColumn -> org.apache.spark.sql.types.TimestampType)
    val full = t.columnNames.map { c =>
      val typed = declared(c)
      if (canonCols.contains(c)) org.apache.spark.sql.functions.col(c).cast(typed).as(c)
      else org.apache.spark.sql.functions.lit(null).cast(typed).as(c)
    }
    // The VALUES rows are a literal local relation, so the casts are a
    // projection the optimizer evaluates on the driver and this collect
    // runs no job. Within-batch put semantics must be deterministic:
    // all rows of one statement share a version, and readLatest's
    // tie-break within a version is arbitrary — so keep only the LAST
    // occurrence of each key (VALUES order), the same winner sequential
    // puts would leave. Keys compare as SQL groups them: -0.0 and 0.0
    // are one key, as are all NaNs (by their canonical bits: boxed NaNs
    // are never `==`).
    val typed = named.select(full: _*)
    val keyAt = entry.keys.map(typed.schema.fieldIndex)
    def sqlKey(v: Any): Any = v match {
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
      case b: Array[Byte] => b.toSeq
      case other => other
    }
    val lastOfKey = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Row]
    typed.collect().foreach { r =>
      val k = keyAt.map(i => sqlKey(r.get(i)))
      lastOfKey.remove(k)
      lastOfKey(k) = r
    }
    import scala.jdk.CollectionConverters._
    val batch = spark.createDataFrame(lastOfKey.values.toSeq.asJava, typed.schema)
    val n = lastOfKey.size.toLong
    // result-cache hook (reference cache layer invalidates on put): the
    // PRE-append data version is captured here — entries keyed on it
    // become stale the moment the new version lands, and if a cache
    // root is declared for the session they are reclaimed below. The
    // new version's keys differ regardless (dataVersion moves on every
    // append), so this is space reclamation, not a correctness latch.
    val staleVersion = spark.conf.getOption(GraftSqlParser.ResultCacheDirKey).flatMap { _ =>
      val p = new org.apache.hadoop.fs.Path(entry.logPath)
      val pfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (pfs.exists(p)) Some(graft.core.ResultCache.dataVersion(spark, entry.logPath)) else None
    }
    // statements on one table serialize within this JVM; see nextSeq for
    // the cross-process single-writer contract
    val seq = UpsertTables.lockFor(table).synchronized {
      val s = UpsertTables.nextSeq(spark, entry.logPath)
      graft.core.Jobs.desc(spark, "upsert:append")(graft.sources.Upsert.appendVersion(batch, entry.logPath, s))
      s
    }
    UpsertTables.refreshView(spark, table)
    for {
      cacheDir <- spark.conf.getOption(GraftSqlParser.ResultCacheDirKey)
      v <- staleVersion
    } graft.core.ResultCache.invalidateData(spark, cacheDir, v)
    Seq(Row(table, n, seq))
  }
}

/** SHOW ROLLUP ROUTES — the registered query-over-rollup rewrites. */
case class ShowRollupRoutesCommand() extends LeafRunnableCommand {
  import GraftSqlParser.attr
  override val output: Seq[Attribute] = Seq(
    attr("fact", StringType), attr("rollup", StringType), attr("time_col", StringType),
    attr("grain", StringType), attr("dims", StringType), attr("sums", StringType),
    attr("count_col", StringType), attr("metric_counts", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    GraftAuth.check(spark, GraftAuth.Metadata, GraftAuth.Read)
    Catalog.showRollupRoutes(spark).collect().toSeq
  }
}
