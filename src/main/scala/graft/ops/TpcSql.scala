package graft.ops

import java.util.Locale
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.types.StructType

/** One SQL text per query, run by both engines: the fixture queries and
  * the generated-data TPC queries alike. Each text is written once against
  * a [[Dialect]] and rendered twice, once per engine.
  *
  * A fixture text (`SparkEntry.fixtureSql`) reads bare table names. For
  * DuckDB ([[duckdbViews]]) it runs over bare-name views of the fixture
  * tables (tools/check.py); for Spark ([[spark]]) it runs through
  * [[dataFrame]] with `graft.Tables` as the resolver, which keeps the
  * `events.ts` normalisation. Where the engines name one function
  * differently, the text calls the Dialect's rename.
  *
  * A generated-data text in [[Tpcds]] / [[TpchFull]] renders:
  *   - for DuckDB ([[duckdb]]), every table is a parquet glob pinned to the
  *     generated cache at [[oracleScale]] (the `*_pub` twins' tables at
  *     their pinned scale), and staged CTEs read `AS MATERIALIZED`.
  *   - for Spark ([[spark]]), every table is its bare name, CTEs carry no
  *     staging hint and integer division is `div` (DuckDB's `//`).
  *     [[dataFrame]] resolves each name with [[catalog]], a
  *     [[graft.Catalog]] read against the declared schema.
  *
  * So the gate compares two engines running the same text, and a query
  * keeps a hand-written DataFrame form only where its doc says why. Scale
  * hints that matter to Spark live in the text as `/*+ BROADCAST(x) */`,
  * which DuckDB reads as a comment.
  */
object TpcSql {
  /** The one fixture scale whose generated data the DuckDB renderings
    * read. [[graft.Verify]] refuses to dump a generated-data query at any
    * other scale ([[requireOracleScale]]): its oracle would read
    * different data. Bench (no oracle) runs at any scale. */
  val oracleScale = "sf0.01"

  /** How a text names its inputs, and the spellings the two engines do
    * not share. `P` a table at the fixture-matched scale, `Pp` a table at
    * the `*_pub` twins' pinned scale, `M` the keyword (with its trailing
    * space) that stages a CTE, `Div` the integer-division operator. The
    * renames, each the same function on both engines:
    *   - `G` the trailing argument of a replace-all `regexp_replace`
    *     (DuckDB's `, 'g'` flag; Spark always replaces all);
    *   - `Unnest` the array-to-rows generator (`unnest` / `explode`);
    *   - `Transform` the array map (`list_transform` / `transform`);
    *   - `JsonStr` the JSON-path string extraction
    *     (`json_extract_string` / `get_json_object`);
    *   - `Sha256(x)` the hex SHA-256 digest (`sha256(x)` / `sha2(x, 256)`);
    *   - `Xor(a, b)` bitwise exclusive or (`xor(a, b)` / `(a ^ b)`; DuckDB's
    *     `^` is a power);
    *   - `Len(x)` the element count of a list (`len(x)` / `size(x)`;
    *     DuckDB has no `size` and refuses `cardinality` on a list, Spark's
    *     `len` takes a string). */
  final case class Dialect(P: String => String, Pp: String => String, M: String, Div: String,
                           G: String, Unnest: String, Transform: String, JsonStr: String,
                           Sha256: String => String, Xor: (String, String) => String,
                           Len: String => String)

  private def duckdbOver(p: String => String, pp: String => String): Dialect =
    Dialect(p, pp, "MATERIALIZED ", "//", ", 'g'", "unnest", "list_transform",
      "json_extract_string", x => s"sha256($x)", (a, b) => s"xor($a, $b)", x => s"len($x)")

  /** DuckDB: parquet globs under the default cache `root`, pinned to
    * [[oracleScale]] and to `pubScale`. */
  def duckdb(root: String, pubScale: String): Dialect =
    duckdbOver(path(root, oracleScale), path(root, pubScale))

  /** DuckDB over bare-name views of the fixture tables: the fixture texts'
    * oracle rendering. */
  val duckdbViews: Dialect = duckdbOver(identity, identity)

  private def path(root: String, scale: String)(name: String): String =
    s"'$root/$scale/$name.parquet/*.parquet'"

  /** Spark: bare table names, resolved by [[dataFrame]]. */
  val spark: Dialect = Dialect(identity, identity, "", "div", "", "explode", "transform",
    "get_json_object", x => s"sha2($x, 256)", (a, b) => s"($a ^ $b)", x => s"size($x)")

  /** Fail loud when `name`, a generated-data query, is dumped for the gate
    * from a fixture dir other than [[oracleScale]]. */
  def requireOracleScale(name: String, sfDir: String): Unit =
    if (new java.io.File(sfDir).getName != oracleScale)
      throw new IllegalStateException(
        s"$name's oracle is pinned to $oracleScale-generated data; verifying " +
          s"at '$sfDir' would compare against the wrong scale. Run Verify at $oracleScale.")

  /** `text` as a DataFrame whose tables come from `resolve`. Every table
    * name the text reads — in the main query, CTE bodies and subquery
    * expressions alike, unless a CTE of that name is in scope — becomes
    * `resolve(name)`, called once per reference so each reference gets its
    * own attribute ids (a self-join reads two relations). A name `resolve`
    * does not know throws IllegalArgumentException naming it. Parsing and
    * substitution register no temp view and run no job; whatever else
    * touches the session is the resolver's ([[catalog]] reads one footer
    * per table in-process and caches it).
    *
    * The texts sum money as exact long cents (`CAST(x * 100 AS BIGINT)`) or
    * as narrow decimals, so the session must have ANSI mode on
    * ([[requireAnsi]]). */
  def dataFrame(spark: SparkSession, text: String, resolve: String => DataFrame): DataFrame = {
    requireAnsi(spark)
    def table(name: String): LogicalPlan =
      SubqueryAlias(name, resolve(name).queryExecution.analyzed)
    GraftColumnBridge.ofRows(spark,
      substitute(spark.sessionState.sqlParser.parsePlan(text), Set.empty, table))
  }

  /** A resolver over the tables under `dir` whose schemas `declared` knows:
    * each is a [[graft.Catalog]] read of `dir/<name>.parquet`. */
  def catalog(spark: SparkSession, dir: String, declared: String => Option[StructType])(
      name: String): DataFrame =
    graft.Catalog.table(spark, s"$dir/$name.parquet", declared(name).getOrElse(
      throw new IllegalArgumentException(s"table '$name' in the query text has no declared schema")))

  /** Long-cents money sums (the texts' `CAST(x * 100 AS BIGINT)`, the hand
    * forms' `Tpcds.centsL`) document ANSI's loud error as their overflow
    * posture, which holds only with ANSI mode on in `spark`, the session
    * the query is built on. */
  private[ops] def requireAnsi(spark: SparkSession): Unit =
    require(spark.conf.get("spark.sql.ansi.enabled", "true").toBoolean,
      "long-cents money sums require spark.sql.ansi.enabled=true: without " +
        "ANSI a long-cents overflow wraps silently instead of throwing")

  /** `plan` with every unqualified table reference that no CTE in `ctes`
    * shadows replaced by `table(name)`. CTE bodies are inner children of
    * their WITH node and subquery plans live in expressions, so both are
    * walked explicitly; a CTE is in scope for later CTEs and the body, and
    * under `WITH RECURSIVE` for its own body too (its self-reference). */
  private def substitute(plan: LogicalPlan, ctes: Set[String],
                         table: String => LogicalPlan): LogicalPlan = plan match {
    case w: UnresolvedWith =>
      var scope = ctes
      val rels = w.cteRelations.map { case (name, body, depth) =>
        val own = scope + name.toLowerCase(Locale.ROOT)
        val b = substitute(body, if (w.allowRecursion) own else scope, table)
          .asInstanceOf[SubqueryAlias]
        scope = own
        (name, b, depth)
      }
      w.copy(child = substitute(w.child, scope, table), cteRelations = rels)
    case u: UnresolvedRelation if u.multipartIdentifier.size == 1 =>
      val name = u.multipartIdentifier.head.toLowerCase(Locale.ROOT)
      if (ctes(name)) u else table(name)
    case u: UnresolvedRelation =>
      throw new IllegalArgumentException(
        s"table '${u.multipartIdentifier.mkString(".")}' in the query text is not a bare table name")
    case p =>
      p.mapChildren(substitute(_, ctes, table)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(substitute(s.plan, ctes, table))
      }
  }
}
