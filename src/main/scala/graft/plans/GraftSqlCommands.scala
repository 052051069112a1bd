package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StringType, StructType}
import graft.index.DiskannParams

/**
 * SQL DDL surface for the index lifecycle — the analog of the reference's
 * primary UX (`/root/reference/README.md:174-180`):
 *
 *   CREATE INDEX [name] ON '<sourcePath>' USING DISKANN (vecCol [opclass])
 *     [WITH (id_col='vec_id', index_path='...', labels_col='labels',
 *            num_neighbors=50, search_list_size=100, max_alpha=1.2,
 *            num_dimensions=..., num_bits_per_dimension=...,
 *            storage_layout='memory_optimized'|'plain',
 *            shard_target_rows=..., partitioner='hash'|'ivf')]
 *   DROP INDEX name [WITH (delete_files=true)]
 *   DROP INDEX ON '<sourcePath>' [WITH (delete_files=true)]
 *   DELETE FROM INDEX <name | ON '<path>'> WHERE ROW_ID IN (id, ...)
 *   VACUUM INDEX <name | ON '<path>'> [WITH (incremental=false)]
 *   REINDEX [INDEX] <name | ON '<path>'> [WITH (num_neighbors=..., ...)]
 *   SHOW INDEX HISTORY <name | ON '<path>'>
 *
 * The last three complete the reference's index lifecycle in SQL: DELETE
 * registers durable tombstones (the heap DELETE whose visibility the scan
 * honors, scan.rs:229-235), VACUUM folds pending delta appends and
 * tombstones into a new generation (vacuum.rs:24-136), and REINDEX forces
 * a full rebuild — optionally under NEW build parameters — even on a
 * quiescent index.
 *
 * The source is either a quoted path or the `parquet.`/path`` form used in
 * queries; the opclass names mirror pgvector's (`vector_cosine_ops`,
 * `vector_l2_ops`, `vector_ip_ops` — README.md:188-193) and default to
 * cosine. `index_path` defaults to `<source>/_graft_index/<name>` — the
 * leading underscore keeps the index invisible to Spark's own file listing
 * of the source directory, so queries over the source are unaffected.
 *
 * Wired in via [[GraftExtensions]] (`spark.sql.extensions` or
 * `withExtensions`) — custom syntax requires the parser hook, which only
 * exists at session build time. Sessions using the lighter [[Graft.enable]]
 * call [[Graft.createIndex]] from Scala instead; both end in the same
 * catalog registration and planner rewrite.
 *
 * Everything that is NOT a graft DDL statement is delegated verbatim to the
 * underlying parser, so the extension is invisible to normal SQL.
 */
object GraftSqlParser {
  private val createRe =
    ("""(?is)^\s*CREATE\s+INDEX(?:\s+(?!ON\b)([\w.\-]+))?\s+ON\s+""" +
      """(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')\s+USING\s+DISKANN\s*""" +
      """\(\s*([\w]+)(?:\s+([\w]+))?\s*\)\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""").r
  private val dropNameRe =
    """(?is)^\s*DROP\s+INDEX\s+(?!ON\b)([\w.\-]+)\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""".r
  private val dropOnRe =
    ("""(?is)^\s*DROP\s+INDEX\s+ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')""" +
      """\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""").r
  private val describeRe =
    ("""(?is)^\s*DESC(?:RIBE)?\s+INDEX\s+""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))\s*;?\s*$""").r
  private val showRe =
    """(?is)^\s*SHOW\s+GRAFT\s+INDEXES\s*;?\s*$""".r
  private val edgesRe =
    ("""(?is)^\s*REGISTER\s+INDEX\s+EDGES\s+""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))""" +
      """\s+AS\s+([\w]+)\s*;?\s*$""").r
  private val vacuumRe =
    ("""(?is)^\s*VACUUM\s+INDEX\s+""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))""" +
      """\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""").r
  private val reindexRe =
    ("""(?is)^\s*REINDEX\s+(?:INDEX\s+)?""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))""" +
      """\s*(?:WITH\s*\((.*)\))?\s*;?\s*$""").r
  private val historyRe =
    ("""(?is)^\s*SHOW\s+INDEX\s+HISTORY\s+""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))\s*;?\s*$""").r
  private val deleteRe =
    ("""(?is)^\s*DELETE\s+FROM\s+INDEX\s+""" +
      """(?:ON\s+(?:parquet\s*\.\s*`([^`]+)`|'([^']+)')|(?!ON\b)([\w.\-]+))""" +
      """\s+WHERE\s+ROW_ID\s+IN\s*\(\s*(\d+(?:\s*,\s*\d+)*)\s*\)\s*;?\s*$""").r
  private val optRe = """([\w]+)\s*=\s*(?:'([^']*)'|([^,\s()]+))""".r

  private def parseOpts(s: String): Map[String, String] =
    if (s == null) Map.empty
    else optRe.findAllMatchIn(s).map { m =>
      m.group(1).toLowerCase -> Option(m.group(2)).getOrElse(m.group(3))
    }.toMap

  private def metricOf(opclass: Option[String], opts: Map[String, String]): String =
    opts.get("metric").map(_.toLowerCase)
      .orElse(opclass.map(_.toLowerCase).map {
        case "vector_cosine_ops" => "cosine"
        case "vector_l2_ops" => "l2"
        case "vector_ip_ops" => "ip"
        case other => throw new IllegalArgumentException(
          s"unknown operator class '$other' " +
            "(vector_cosine_ops | vector_l2_ops | vector_ip_ops)")
      }).getOrElse("cosine")

  /**
   * pgvector operator syntax (the reference's primary query UX,
   * `README.md:174-180`): a textual pre-pass rewrites
   *
   *   a <=> b  →  vec_cosine_dist(a, b)   (cosine distance)
   *   a <-> b  →  vec_l2(a, b)            (euclidean distance)
   *   a <#> b  →  vec_neg_dot(a, b)       (negative inner product)
   *
   * before delegation, so the reference's query text runs verbatim AND
   * lands on the exact expressions [[KnnStrategy]] pattern-matches —
   * `ORDER BY embedding <=> q LIMIT k` takes the index plan identically to
   * the function-call spelling.
   *
   * `<->` and `<#>` are not valid Spark SQL, so claiming them costs
   * nothing. `<=>` IS Spark's null-safe equality; in a session that loads
   * the graft extensions it is claimed as the cosine operator instead
   * (pgvector compatibility wins; ANSI `IS NOT DISTINCT FROM` still
   * expresses null-safe equality unambiguously). Setting
   * `spark.graft.sql.vectorOps=false` turns the whole rewrite off.
   *
   * The scan is literal-aware (operators inside '…' strings and `…`
   * identifiers are untouched) and operands are the adjacent PRIMARY
   * expressions — qualified/backquoted identifiers, literals, or
   * call-forms with balanced parentheses (`CAST(array(…) AS ARRAY<FLOAT>)`)
   * — matching the operator's tight precedence in pgvector. An occurrence
   * whose operand cannot be recognized is left as-is for the delegate
   * parser to report.
   */
  private val vectorOps =
    Seq("<=>" -> "vec_cosine_dist", "<->" -> "vec_l2", "<#>" -> "vec_neg_dot",
      // pgvector ≥0.7 additions: L1 distance and the bit-vector operators
      // (hamming / jaccard over packed codes, e.g. binary_quantize output)
      "<+>" -> "vec_l1", "<~>" -> "hamming_dist", "<%>" -> "jaccard_dist")

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  /** Index of the first operator occurrence outside literals, with its fn. */
  private def findVectorOp(s: String): Option[(Int, String, String)] = {
    var i = 0
    var quote: Char = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '`' || c == '"') quote = c
      else vectorOps.find { case (op, _) => s.startsWith(op, i) } match {
        case Some((op, fn)) => return Some((i, op, fn))
        case None =>
      }
      i += 1
    }
    None
  }

  /** Start index of the primary expression ending just before `end`. */
  private def leftOperandStart(s: String, end: Int): Option[Int] = {
    var j = end - 1
    while (j >= 0 && Character.isWhitespace(s.charAt(j))) j -= 1
    if (j < 0) return None
    s.charAt(j) match {
      case ')' | ']' =>
        // balanced walk back over the call/bracket form
        var depth = 0
        while (j >= 0) {
          val c = s.charAt(j)
          if (c == ')' || c == ']') depth += 1
          else if (c == '(' || c == '[') { depth -= 1; if (depth == 0) {
            j -= 1
            // include the (qualified) function name before the parens
            while (j >= 0 && Character.isWhitespace(s.charAt(j))) j -= 1
            while (j >= 0 && (isIdentChar(s.charAt(j)) || s.charAt(j) == '.')) j -= 1
            return Some(j + 1)
          } }
          j -= 1
        }
        None
      case '\'' =>
        var k = j - 1
        while (k >= 0 && s.charAt(k) != '\'') k -= 1
        if (k >= 0) Some(k) else None
      case '`' =>
        var k = j - 1
        while (k >= 0 && s.charAt(k) != '`') k -= 1
        if (k < 0) return None
        k -= 1
        // qualified chain before the backquoted segment (t.`col`)
        while (k >= 0 && (isIdentChar(s.charAt(k)) || s.charAt(k) == '.')) k -= 1
        Some(k + 1)
      case c if isIdentChar(c) =>
        var k = j
        while (k >= 0 && (isIdentChar(s.charAt(k)) || s.charAt(k) == '.')) k -= 1
        Some(k + 1)
      case _ => None
    }
  }

  /** End index (exclusive) of the primary expression starting at/after `from`. */
  private def rightOperandEnd(s: String, from: Int): Option[Int] = {
    var j = from
    while (j < s.length && Character.isWhitespace(s.charAt(j))) j += 1
    if (j >= s.length) return None
    def balancedForward(start: Int): Option[Int] = {
      var depth = 0
      var k = start
      var quote: Char = 0
      while (k < s.length) {
        val c = s.charAt(k)
        if (quote != 0) { if (c == quote) quote = 0 }
        else if (c == '\'' || c == '`' || c == '"') quote = c
        else if (c == '(' || c == '[') depth += 1
        else if (c == ')' || c == ']') { depth -= 1; if (depth == 0) return Some(k + 1) }
        k += 1
      }
      None
    }
    s.charAt(j) match {
      case '(' | '[' => balancedForward(j)
      case '\'' =>
        var k = j + 1
        while (k < s.length && s.charAt(k) != '\'') k += 1
        if (k < s.length) Some(k + 1) else None
      case c if isIdentChar(c) || c == '`' =>
        var k = j
        // qualified chain of idents / backquoted segments
        var advanced = true
        while (advanced && k < s.length) {
          advanced = false
          if (k < s.length && s.charAt(k) == '`') {
            var m = k + 1
            while (m < s.length && s.charAt(m) != '`') m += 1
            if (m >= s.length) return None
            k = m + 1; advanced = true
          } else {
            val start = k
            while (k < s.length && isIdentChar(s.charAt(k))) k += 1
            if (k > start) advanced = true
          }
          if (k < s.length && s.charAt(k) == '.') { k += 1; advanced = true }
        }
        // a call form: optional whitespace then balanced parens
        var m = k
        while (m < s.length && Character.isWhitespace(s.charAt(m))) m += 1
        if (m < s.length && s.charAt(m) == '(') balancedForward(m) else Some(k)
      case c if Character.isDigit(c) || c == '-' || c == '.' =>
        var k = j + 1
        while (k < s.length && (Character.isDigit(s.charAt(k)) ||
          s.charAt(k) == '.' || s.charAt(k) == 'e' || s.charAt(k) == 'E')) k += 1
        Some(k)
      case _ => None
    }
  }

  /** `<=>` is the ONE claimed operator with a prior Spark meaning
    * (null-safe equality), so its first rewrite in a JVM warns once —
    * loudly enough that a session which meant null-safe equality finds out
    * why its comparison became a cosine distance, cheap enough not to spam
    * serving loops. The other five operators are not valid Spark SQL, so
    * claiming them is semantically free and silent. */
  private val cosineClaimWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def rewriteVectorOps(sql: String): String = {
    if (!vectorOps.exists { case (op, _) => sql.contains(op) }) return sql
    var s = sql
    var guard = 0
    var done = false
    while (!done && guard < 64) {
      guard += 1
      findVectorOp(s) match {
        case Some((p, op, fn)) =>
          (leftOperandStart(s, p), rightOperandEnd(s, p + op.length)) match {
            case (Some(ls), Some(re)) =>
              val left = s.substring(ls, p).trim
              val right = s.substring(p + op.length, re).trim
              if (op == "<=>" && cosineClaimWarned.compareAndSet(false, true))
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  "graft rewrote `a <=> b` to vec_cosine_dist(a, b) " +
                    "(pgvector operator syntax). Spark's null-safe equality " +
                    "must be spelled `IS NOT DISTINCT FROM` in " +
                    "extension-enabled sessions; set " +
                    "spark.graft.sql.vectorOps=false to reclaim <=>.")
              s = s.substring(0, ls) + s"$fn($left, $right)" + s.substring(re)
            case _ => done = true // unrecognized shape: let the delegate report
          }
        case None => done = true
      }
    }
    s
  }

  /** Some(command) when `sqlText` is graft DDL; None delegates to Spark. */
  def parseIndexCommand(sqlText: String): Option[LogicalPlan] = sqlText match {
    case createRe(name, tick, quoted, vecCol, opclass, withOpts) =>
      val opts = parseOpts(withOpts)
      val source = Option(tick).getOrElse(quoted)
      val idxName = Option(name).getOrElse(s"idx_$vecCol")
      Some(CreateDiskannIndexCommand(idxName, source, vecCol,
        metricOf(Option(opclass), opts), opts))
    case dropNameRe(name, withOpts) =>
      Some(DropDiskannIndexCommand(Left(name),
        parseOpts(withOpts).get("delete_files").exists(_.toBoolean)))
    case dropOnRe(tick, quoted, withOpts) =>
      Some(DropDiskannIndexCommand(Right(Option(tick).getOrElse(quoted)),
        parseOpts(withOpts).get("delete_files").exists(_.toBoolean)))
    case describeRe(tick, quoted, name) =>
      Some(DescribeDiskannIndexCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted))))
    case showRe() => Some(ShowGraftIndexesCommand())
    case edgesRe(tick, quoted, name, view) =>
      Some(RegisterIndexEdgesCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted)),
        view))
    case vacuumRe(tick, quoted, name, withOpts) =>
      Some(VacuumDiskannIndexCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted)),
        parseOpts(withOpts)))
    case reindexRe(tick, quoted, name, withOpts) =>
      Some(ReindexDiskannIndexCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted)),
        parseOpts(withOpts)))
    case historyRe(tick, quoted, name) =>
      Some(ShowIndexHistoryCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted))))
    case deleteRe(tick, quoted, name, ids) =>
      Some(DeleteFromDiskannIndexCommand(
        if (name != null) Left(name) else Right(Option(tick).getOrElse(quoted)),
        ids.split(",").map(_.trim.toLong).toSeq))
    case _ => None
  }

  /** Resolve a `<name | ON '<path>'>` DDL target to its catalog entry. */
  private[plans] def resolveEntry(target: Either[String, String]): KnnCatalog.Entry = {
    val sourcePath = target match {
      case Left(name) => KnnCatalog.lookupName(name).getOrElse(
        throw new IllegalArgumentException(s"no index named '$name'"))
      case Right(path) => path
    }
    KnnCatalog.lookup(sourcePath).getOrElse(
      throw new IllegalArgumentException(s"no index registered on '$sourcePath'"))
  }

  /** Which stored artifact lives at a bare path: "ann", "text", or "dedup"
    * — all three share the tombstone registry and the versioned-generation
    * lifecycle, so DELETE FROM INDEX / VACUUM INDEX work `ON '<path>'`
    * without a catalog registration (the path IS the artifact). None when
    * nothing index-shaped is there, so a typo'd path errors instead of
    * silently growing a tombstone dir. */
  private[plans] def artifactKindAt(spark: SparkSession,
      path: String): Option[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = graft.index.DiskannIndex.resolveRoot(spark, path)
    def has(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d")) ||
        fs.exists(new org.apache.hadoop.fs.Path(s"$path/$d"))
    if (has("_meta") || has("nodes")) Some("ann")
    else if (has("corpusstats")) Some("text")
    else if (has("bands")) Some("dedup")
    else None
  }
}

class GraftSqlParser(delegate: ParserInterface,
    session: Option[SparkSession] = None) extends ParserInterface {
  private def vectorOpsOn: Boolean =
    session.orElse(SparkSession.getActiveSession)
      .forall(_.conf.get("spark.graft.sql.vectorOps", "true").toBoolean)
  private def pre(sqlText: String): String =
    if (vectorOpsOn) GraftSqlParser.rewriteVectorOps(sqlText) else sqlText
  override def parsePlan(sqlText: String): LogicalPlan = {
    val sql = pre(sqlText)
    GraftSqlParser.parseIndexCommand(sql).getOrElse(delegate.parsePlan(sql))
  }
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(pre(sqlText))
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

/** Driver-side index build + catalog registration (the `ambuild` entry). */
case class CreateDiskannIndexCommand(name: String, sourcePath: String,
    vecCol: String, metric: String, opts: Map[String, String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("index_path", StringType, nullable = false)())

  private val knownOpts = Set("id_col", "index_path", "labels_col", "metric",
    "num_neighbors", "search_list_size", "max_alpha", "num_bits_per_dimension",
    "storage_layout", "num_dimensions", "shard_target_rows", "partitioner")

  override def run(spark: SparkSession): Seq[Row] = {
    // fail on typos instead of silently ignoring them — a misspelled
    // num_neighbors that quietly builds with the default is a debugging trap
    val unknown = opts.keySet.diff(knownOpts)
    require(unknown.isEmpty,
      s"unknown CREATE INDEX option(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${knownOpts.toSeq.sorted.mkString(", ")}")
    val idCol = opts.getOrElse("id_col",
      throw new IllegalArgumentException(
        "CREATE INDEX ... USING DISKANN requires WITH (id_col='...'): the " +
          "index stores row ids, and parquet sources have no implicit ctid"))
    val indexPath = opts.getOrElse("index_path",
      s"${sourcePath.stripSuffix("/")}/_graft_index/$name")
    val params = DiskannParams(
      metric = metric,
      numNeighbors = opts.get("num_neighbors").map(_.toInt).getOrElse(50),
      searchListSize = opts.get("search_list_size").map(_.toInt).getOrElse(100),
      maxAlpha = opts.get("max_alpha").map(_.toDouble).getOrElse(1.2),
      bitsPerDim = opts.get("num_bits_per_dimension").map(_.toInt),
      storage = opts.get("storage_layout").map(_.toLowerCase) match {
        case Some("memory_optimized") | None => "sbq"
        case Some("plain") => "plain"
        case Some(other) => throw new IllegalArgumentException(
          s"unknown storage_layout '$other' (memory_optimized | plain)")
      },
      numDimsToIndex = opts.get("num_dimensions").map(_.toInt),
      shardTargetRows = opts.get("shard_target_rows").map(_.toLong)
        .getOrElse(1L << 20),
      partitioner = opts.getOrElse("partitioner", "hash"))
    val labelsCol = opts.get("labels_col")
    Graft.createIndex(spark, sourcePath, idCol, vecCol, indexPath,
      labelsCol, params)
    KnnCatalog.registerName(name, sourcePath)
    Seq(Row(indexPath))
  }
}

/** `DESCRIBE INDEX <name | ON '<path>'>` — the V2 index-stats surface
  * (vacuum.rs:138-157 / `stats`) in DESCRIBE TABLE style (property, value)
  * rows. */
case class DescribeDiskannIndexCommand(target: Either[String, String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("property", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val sourcePath = target match {
      case Left(name) => KnnCatalog.lookupName(name).getOrElse(
        throw new IllegalArgumentException(s"no index named '$name'"))
      case Right(path) => path
    }
    // bare TEXT/DEDUP artifact paths describe through their own stats —
    // the same one-SQL-surface rule as DELETE/VACUUM
    if (target.isRight && KnnCatalog.lookup(sourcePath).isEmpty)
      GraftSqlParser.artifactKindAt(spark, sourcePath) match {
        case Some("text") =>
          return graft.operators.TextIndex.textIndexStats(spark, sourcePath)
            .collect().toSeq
        case Some("dedup") =>
          val m = graft.index.ParquetMetaCache.headRow(spark,
            s"$sourcePath/idxmeta")
          val root = graft.index.DiskannIndex.resolveRoot(spark, sourcePath)
          val nDocs = graft.index.TierManifest
            .tableDfAt(spark, root, "signatures").count()
          val tombs =
            graft.index.DiskannIndex.loadTombstones(spark, sourcePath).size
          return Seq(
            "generation_root" -> root,
            "num_docs" -> nDocs.toString,
            "shingle_size" -> m.getAs[Int]("shingle_size").toString,
            "num_hashes" -> m.getAs[Int]("num_hashes").toString,
            "bands" -> m.getAs[Int]("bands").toString,
            "pending_tombstones" -> tombs.toString
          ).map { case (k, v) => Row(k, v) }
        case Some("ann") =>
          // bare unregistered ANN artifact: the stats/meta surface needs
          // only the path — keep DESCRIBE symmetric with DELETE/VACUUM
          val s = graft.index.DiskannIndex.stats(spark, sourcePath)
          val meta = graft.index.DiskannIndex.loadMeta(spark, sourcePath)
          val tombs =
            graft.index.DiskannIndex.loadTombstones(spark, sourcePath).size
          return Seq(
            "index_path" -> sourcePath,
            "metric" -> s.metric,
            "storage" -> s.storage,
            "bits_per_dim" -> s.bitsPerDim.toString,
            "num_rows" -> s.numRows.toString,
            "num_shards" -> s.numShards.toString,
            "num_edges" -> s.numEdges.toString,
            "avg_degree" -> f"${s.avgDegree}%.3f",
            "max_degree" -> s.maxDegree.toString,
            "num_neighbors" -> meta.numNeighbors.toString,
            "search_list_size" -> meta.searchListSize.toString,
            "partitioner" -> meta.partitioner,
            "build_id" -> meta.buildId,
            "labels" -> meta.hasLabels.toString,
            "pending_tombstones" -> tombs.toString
          ).map { case (k, v) => Row(k, v) }
        case _ =>
      }
    val entry = KnnCatalog.lookup(sourcePath).getOrElse(
      throw new IllegalArgumentException(s"no index registered on '$sourcePath'"))
    val s = graft.index.DiskannIndex.stats(spark, entry.indexPath)
    val meta = graft.index.DiskannIndex.loadMeta(spark, entry.indexPath)
    Seq(
      "source_path" -> entry.sourcePath,
      "index_path" -> entry.indexPath,
      "metric" -> s.metric,
      "storage" -> s.storage,
      "bits_per_dim" -> s.bitsPerDim.toString,
      "num_rows" -> s.numRows.toString,
      "num_shards" -> s.numShards.toString,
      "num_edges" -> s.numEdges.toString,
      "avg_degree" -> f"${s.avgDegree}%.3f",
      "max_degree" -> s.maxDegree.toString,
      "num_neighbors" -> meta.numNeighbors.toString,
      "search_list_size" -> meta.searchListSize.toString,
      "partitioner" -> meta.partitioner,
      "build_id" -> meta.buildId,
      "labels" -> meta.hasLabels.toString,
      "id_col" -> entry.idCol,
      "vec_col" -> entry.vecCol,
      "labels_col" -> entry.labelsCol.getOrElse("")
    ).map { case (k, v) => Row(k, v) }
  }
}

/** `REGISTER INDEX EDGES <name | ON '<path>'> AS <view>` — binds the built
  * Vamana graph's `(src, dst)` row-id edge list ([[graft.index.DiskannIndex.edges]],
  * "the graph IS the index": graph/mod.rs:212-266) as a LAZY temp view.
  * Nothing is computed or collected at registration; downstream SQL
  * (PageRank-style joins, degree audits, reachability) runs fully
  * distributed off the partition-pruned nodes scan — the SQL door to the
  * graph-analytics path. */
/**
 * Registry of `REGISTER INDEX EDGES` temp views, keyed by index path. A
 * temp view binds the logical plan — and so the GENERATION — current at
 * registration; without re-registration a compaction swap would leave the
 * view serving the superseded graph until GC breaks it outright. Compact
 * calls [[EdgeViews.refresh]] right after the swap (next to its
 * GraphSearcher invalidation), so any view registered in this
 * JVM re-binds to the active generation. A compaction run by a DIFFERENT
 * JVM can't reach this session's views — there the view is a consistent
 * snapshot under the GC grace window until the next same-JVM compact or
 * an explicit re-REGISTER (temp views are session-scoped, so this is the
 * same freshness contract the session's other temp views have).
 */
object EdgeViews {
  private val regs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[
      String, java.lang.ref.WeakReference[SparkSession]]]()

  def register(spark: SparkSession, indexPath: String, view: String): Unit = {
    graft.index.DiskannIndex.edges(spark, indexPath)
      .createOrReplaceTempView(view)
    regs.computeIfAbsent(indexPath,
        _ => new java.util.concurrent.ConcurrentHashMap())
      .put(view, new java.lang.ref.WeakReference(spark))
  }

  /** Re-bind every live registered view of `indexPath` to the generation
    * active NOW. Views whose session was collected (or whose re-bind
    * fails, e.g. the index was deleted) are dropped from the registry. */
  def refresh(indexPath: String): Unit = {
    val m = regs.get(indexPath)
    if (m == null) return
    m.forEach { (view, ref) =>
      val s = ref.get()
      if (s == null) m.remove(view)
      else try graft.index.DiskannIndex.edges(s, indexPath)
        .createOrReplaceTempView(view)
      catch { case _: Exception => m.remove(view) }
    }
  }

  /** Drop the registered views of `indexPath` (DROP INDEX path). */
  def unregister(indexPath: String): Unit = {
    val m = regs.remove(indexPath)
    if (m == null) return
    m.forEach { (view, ref) =>
      Option(ref.get()).foreach(_.catalog.dropTempView(view))
    }
  }
}

case class RegisterIndexEdgesCommand(target: Either[String, String],
    view: String) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val sourcePath = target match {
      case Left(name) => KnnCatalog.lookupName(name).getOrElse(
        throw new IllegalArgumentException(s"no index named '$name'"))
      case Right(path) => path
    }
    val entry = KnnCatalog.lookup(sourcePath).getOrElse(
      throw new IllegalArgumentException(s"no index registered on '$sourcePath'"))
    EdgeViews.register(spark, entry.indexPath, view)
    Seq.empty
  }
}

/** `SHOW GRAFT INDEXES` — one row per catalog registration. */
case class ShowGraftIndexesCommand() extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("source_path", StringType, nullable = false)(),
    AttributeReference("index_path", StringType, nullable = false)(),
    AttributeReference("metric", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    KnnCatalog.listAll().map { case (name, e) =>
      Row(name, e.sourcePath, e.indexPath, e.metric)
    }
}

/**
 * `DELETE FROM INDEX <name | ON '<path>'> WHERE ROW_ID IN (...)` — durably
 * registers tombstones ([[graft.index.DiskannIndex.deleteRows]]). Every
 * freshness-honoring read path (the SQL-planned scan, `searchFresh`) masks
 * the ids immediately; the next VACUUM folds them physically. Row ids are
 * literal longs by design: the command writes a driver-side registry entry,
 * so an unbounded subquery source would be the wrong shape — bulk deletes
 * go through `deleteRows(df.collect...)`-free Scala paths instead.
 */
case class DeleteFromDiskannIndexCommand(target: Either[String, String],
    rowIds: Seq[Long]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // `ON '<path>'` without a catalog registration: the path itself is a
    // stored artifact (ANN, text, or dedup — one shared tombstone registry)
    val indexPath = target match {
      case Right(p) if KnnCatalog.lookup(p).isEmpty =>
        require(GraftSqlParser.artifactKindAt(spark, p).isDefined,
          s"no index registered on '$p' and no stored artifact found there")
        p
      case t => GraftSqlParser.resolveEntry(t).indexPath
    }
    graft.index.DiskannIndex.deleteRows(spark, indexPath, rowIds)
    Seq(Row(rowIds.length.toString))
  }
}

/**
 * `VACUUM INDEX <name | ON '<path>'> [WITH (incremental=false)]` — the
 * reference's VACUUM analog (vacuum.rs:24-136): folds pending delta appends
 * and registered tombstones into a newly installed generation and consumes
 * them. A no-op (reported as vacuumed=false) when there is nothing to fold.
 * `incremental=false` forces a full rebuild instead of the IVF partial
 * path for this one run, without touching the session conf.
 */
case class VacuumDiskannIndexCommand(target: Either[String, String],
    opts: Map[String, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("property", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val unknown = opts.keySet.diff(Set("incremental", "tier"))
    require(unknown.isEmpty,
      s"unknown VACUUM INDEX option(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        "known: incremental, tier")
    // `tier` is the text/dedup LSM fold; silently ignoring it on an ANN
    // target would let a user believe they ran the cheap fold — fail loud
    // and name the ANN analog (the IVF incremental path) instead
    def rejectTierForAnn(): Unit =
      require(!opts.get("tier").exists(_.toBoolean),
        "tier=true applies to text/dedup indexes (the LSM tier fold); ANN " +
          "indexes compact incrementally by default — use incremental=true/false")
    // `ON '<path>'` on an unregistered TEXT or DEDUP artifact routes to
    // that artifact's own compactor — same tombstone-fold + generation-
    // install semantics, one SQL lifecycle for all three stored artifacts
    target match {
      case Right(p) if KnnCatalog.lookup(p).isEmpty =>
        GraftSqlParser.artifactKindAt(spark, p) match {
          case Some(kind @ ("text" | "dedup")) =>
            val tombsBefore =
              graft.index.DiskannIndex.loadTombstones(spark, p).size
            val rootBefore = graft.index.DiskannIndex.resolveRoot(spark, p)
            // `tier=true` requests the O(appended-data) LSM-style fold
            // (base generation referenced, not rewritten); it degrades to
            // the full VACUUM fold automatically when tombstones pend
            val tiered = opts.get("tier").exists(_.toBoolean)
            val did =
              if (kind == "text")
                graft.operators.TextIndex.compactTextIndex(spark, p, tiered)
              else graft.operators.Dedup.compactDedupIndex(spark, p, tiered)
            val rootAfter = graft.index.DiskannIndex.resolveRoot(spark, p)
            return Seq(
              "vacuumed" -> did.toString,
              "delta_files_folded" -> "0",
              "tombstones_folded" -> tombsBefore.toString,
              "generation_before" -> rootBefore,
              "generation_after" -> rootAfter
            ).map { case (k, v) => Row(k, v) }
          case Some("ann") =>
            // bare unregistered ANN artifact: same one-SQL-surface rule —
            // DELETE FROM INDEX ON '<path>' can mint tombstones here, so
            // VACUUM must be able to fold them without a registration
            rejectTierForAnn()
            val deltaBefore =
              graft.streaming.StreamingIngest.deltaFiles(spark, p).length
            val tombsBefore =
              graft.index.DiskannIndex.loadTombstones(spark, p).size
            val rootBefore = graft.index.DiskannIndex.resolveRoot(spark, p)
            val prev = spark.conf.getOption("graft.compact.incremental")
            opts.get("incremental").foreach(v =>
              spark.conf.set("graft.compact.incremental", v.toBoolean.toString))
            try graft.streaming.StreamingIngest.compact(spark, p)
            finally if (opts.contains("incremental")) prev match {
              case Some(v) => spark.conf.set("graft.compact.incremental", v)
              case None => spark.conf.unset("graft.compact.incremental")
            }
            val rootAfter = graft.index.DiskannIndex.resolveRoot(spark, p)
            return Seq(
              "vacuumed" -> (rootBefore != rootAfter).toString,
              "delta_files_folded" -> deltaBefore.toString,
              "tombstones_folded" -> tombsBefore.toString,
              "generation_before" -> rootBefore,
              "generation_after" -> rootAfter
            ).map { case (k, v) => Row(k, v) }
          case _ => // registered or unknown falls through to the entry path
        }
      case _ =>
    }
    rejectTierForAnn() // the registered fall-through is always ANN
    val entry = GraftSqlParser.resolveEntry(target)
    val ip = entry.indexPath
    val deltaBefore = graft.streaming.StreamingIngest.deltaFiles(spark, ip).length
    val tombsBefore = graft.index.DiskannIndex.loadTombstones(spark, ip).size
    val rootBefore = graft.index.DiskannIndex.resolveRoot(spark, ip)
    val prev = spark.conf.getOption("graft.compact.incremental")
    opts.get("incremental").foreach(v =>
      spark.conf.set("graft.compact.incremental", v.toBoolean.toString))
    try graft.streaming.StreamingIngest.compact(spark, ip)
    finally if (opts.contains("incremental")) prev match {
      case Some(v) => spark.conf.set("graft.compact.incremental", v)
      case None => spark.conf.unset("graft.compact.incremental")
    }
    val rootAfter = graft.index.DiskannIndex.resolveRoot(spark, ip)
    Seq(
      "vacuumed" -> (rootBefore != rootAfter).toString,
      "delta_files_folded" -> deltaBefore.toString,
      "tombstones_folded" -> tombsBefore.toString,
      "generation_before" -> rootBefore,
      "generation_after" -> rootAfter
    ).map { case (k, v) => Row(k, v) }
  }
}

/**
 * `REINDEX [INDEX] <name | ON '<path>'> [WITH (...)]` — force a FULL
 * rebuild into a new generation even when nothing is pending: re-trains
 * quantizer and centroids, restores the shard-sizing invariant after heavy
 * churn, and — with options — rebuilds under NEW build parameters (the
 * `WITH` grammar and option names match CREATE INDEX). Pending delta and
 * tombstones fold in, exactly as VACUUM.
 */
case class ReindexDiskannIndexCommand(target: Either[String, String],
    opts: Map[String, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("property", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  private val knownOpts = Set("num_neighbors", "search_list_size", "max_alpha",
    "num_bits_per_dimension", "storage_layout", "num_dimensions",
    "shard_target_rows", "partitioner")

  override def run(spark: SparkSession): Seq[Row] = {
    val unknown = opts.keySet.diff(knownOpts)
    require(unknown.isEmpty,
      s"unknown REINDEX option(s) ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"known: ${knownOpts.toSeq.sorted.mkString(", ")}")
    val entry = GraftSqlParser.resolveEntry(target)
    val ip = entry.indexPath
    val rootBefore = graft.index.DiskannIndex.resolveRoot(spark, ip)
    val tune: DiskannParams => DiskannParams = p0 => {
      var p = p0
      opts.get("num_neighbors").foreach(v => p = p.copy(numNeighbors = v.toInt))
      opts.get("search_list_size").foreach(v => p = p.copy(searchListSize = v.toInt))
      opts.get("max_alpha").foreach(v => p = p.copy(maxAlpha = v.toDouble))
      opts.get("num_bits_per_dimension").foreach(v => p = p.copy(bitsPerDim = Some(v.toInt)))
      opts.get("num_dimensions").foreach(v => p = p.copy(numDimsToIndex = Some(v.toInt)))
      opts.get("shard_target_rows").foreach(v => p = p.copy(shardTargetRows = v.toLong))
      opts.get("partitioner").foreach(v => p = p.copy(partitioner = v))
      opts.get("storage_layout").map(_.toLowerCase).foreach {
        case "memory_optimized" => p = p.copy(storage = "sbq")
        case "plain" => p = p.copy(storage = "plain")
        case other => throw new IllegalArgumentException(
          s"unknown storage_layout '$other' (memory_optimized | plain)")
      }
      p
    }
    graft.streaming.StreamingIngest.compact(spark, ip, tune, force = true)
    val rootAfter = graft.index.DiskannIndex.resolveRoot(spark, ip)
    Seq(
      "index_path" -> ip,
      "generation_before" -> rootBefore,
      "generation_after" -> rootAfter
    ).map { case (k, v) => Row(k, v) }
  }
}

/**
 * `SHOW INDEX HISTORY <name | ON '<path>'>` — the installed generations of
 * a versioned index, oldest first, one row each: compaction keeps the
 * superseded generation on disk as the in-flight-reader grace window
 * ([[graft.index.DiskannIndex.listVersions]]), so the previous snapshot
 * stays queryable (time travel: pass `root` to the Scala search API) until
 * the next compaction prunes it. A never-compacted flat index reports its
 * single implicit generation. `num_rows` is each generation's LIVE row
 * count — the audit trail of what every VACUUM/REINDEX folded.
 */
case class ShowIndexHistoryCommand(target: Either[String, String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("generation", StringType, nullable = false)(),
    AttributeReference("root", StringType, nullable = false)(),
    AttributeReference("is_current", StringType, nullable = false)(),
    AttributeReference("num_rows", StringType, nullable = false)(),
    AttributeReference("modified", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    // bare text/dedup artifact paths share the same generation convention,
    // so their audit/time-travel listing works identically; only the row
    // count is artifact-specific
    val (ip, kind) = target match {
      case Right(p) if KnnCatalog.lookup(p).isEmpty =>
        val k = GraftSqlParser.artifactKindAt(spark, p).getOrElse(
          throw new IllegalArgumentException(
            s"no index registered on '$p' and no stored artifact found there"))
        (p, k)
      case t => (GraftSqlParser.resolveEntry(t).indexPath, "ann")
    }
    // through TierManifest: a tier-folded generation holds only the append
    // tier locally and would otherwise report a fraction of its live rows
    def rowsAt(root: String): Long = kind match {
      case "text" => graft.index.TierManifest
        .tableDfAt(spark, root, "corpusstats")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("n"))).head().getLong(0)
      case "dedup" => graft.index.TierManifest
        .tableDfAt(spark, root, "signatures").count()
      case _ => graft.index.DiskannIndex.stats(spark, root).numRows
    }
    val versions = graft.index.DiskannIndex.listVersions(spark, ip)
    val roots =
      if (versions.isEmpty) Seq("flat" -> ip)
      else versions.map(v => v -> s"$ip/versions/$v")
    val current = graft.index.DiskannIndex.resolveRoot(spark, ip)
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    roots.map { case (gen, root) =>
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val mtime = fmt.format(
        java.time.Instant.ofEpochMilli(fs.getFileStatus(p).getModificationTime))
      Row(gen, root, (root == current).toString, rowsAt(root).toString, mtime)
    }
  }
}

/** Driver-side unregister (+ optional file delete) — the `DROP INDEX` analog. */
case class DropDiskannIndexCommand(target: Either[String, String],
    deleteFiles: Boolean) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val sourcePath = target match {
      case Left(name) => KnnCatalog.lookupName(name).getOrElse(
        throw new IllegalArgumentException(s"no index named '$name'"))
      case Right(path) => path
    }
    val entry = KnnCatalog.lookup(sourcePath)
    Graft.dropIndex(sourcePath, deleteFiles = deleteFiles)
    KnnCatalog.unregisterNamesFor(sourcePath)
    entry.foreach(e => EdgeViews.unregister(e.indexPath))
    Seq.empty
  }
}
