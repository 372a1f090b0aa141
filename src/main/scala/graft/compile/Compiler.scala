package graft.compile

import java.security.MessageDigest
import scala.util.matching.Regex
import graft.core.{ModelConfig, Relation}

/** The Jinja-SQL surface the reference project actually uses (SURVEY §2
  * B49, §3.1): `ref()`, `source()`, `env_var()`, `config()`, `this`,
  * `is_incremental()`, and the canonical incremental guard block
  * `{% if is_incremental() %} … {% endif %}`
  * (/root/reference/models/aggr_repo_languages.sql:4 uses `source`;
  * test_profiles/profiles.yml:8,20 and models/sources.yml:5 use
  * `env_var`). Resolution is textual, exactly like dbt's compile phase:
  * the compiled artifact is plain Spark SQL.
  *
  * Relations resolve to `parquet.`/path/`` table syntax, so compiled SQL
  * runs directly against the path-addressed warehouse with full Catalyst
  * pushdown — no temp-view bookkeeping; view models resolve to their
  * registered temp-view name instead.
  */
object Compiler {

  private val refRe: Regex = """\{\{\s*ref\(\s*'([^']+)'\s*\)\s*\}\}""".r
  // dbt mesh two-arg form: {{ ref('other_project', 'model') }} — disjoint
  // from refRe (the single-arg pattern requires ')' right after the arg)
  private val refXRe: Regex =
    """\{\{\s*ref\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""".r
  private val sourceRe: Regex = """\{\{\s*source\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}""".r
  private val envVarRe: Regex = """\{\{\s*env_var\(\s*'([^']+)'(?:\s*,\s*'([^']*)')?\s*\)\s*\}\}""".r
  // project variables (dbt `{{ var('name', default) }}`, sourced from
  // dbt_project.yml `vars:` + the `--vars` CLI override): value splices
  // verbatim like dbt's rendering; a quoted default renders unquoted
  private val varRe: Regex =
    """\{\{\s*var\(\s*'([^']+)'(?:\s*,\s*('[^']*'|[^)]*?))?\s*\)\s*\}\}""".r
  private val thisRe: Regex = """\{\{\s*this\s*\}\}""".r
  // `{{ this.database/schema/identifier }}` (+ dbt's name/table
  // aliases) — relation-coordinate accessors; the GRANT-in-post_hook
  // and audit-column idioms qualify identifiers piecewise instead of
  // splicing the whole relation text
  private val thisAttrRe: Regex =
    """\{\{\s*this\.(database|schema|identifier|name|table)\s*\}\}""".r
  // `{{ adapter.quote('col') }}` — engine-dialect identifier quoting
  // (Spark SQL backticks)
  private val adapterQuoteRe: Regex =
    """\{\{\s*adapter\.quote\(\s*'([^']+)'\s*\)\s*\}\}""".r
  // dbt `{{ target.name/schema/database }}` — deployment coordinates in
  // model SQL (env-switching audit columns, schema-qualified literals)
  private val targetRe: Regex =
    """\{\{\s*target\.([A-Za-z_]\w*)\s*\}\}""".r
  private val configRe: Regex = """(?s)\{\{\s*config\((.*?)\)\s*\}\}""".r
  // accepts jinja whitespace-control dashes and an optional {% else %}
  // arm (dbt supports both around the canonical incremental guard)
  // both the jinja form and the bare scripting-variable form the reference
  // uses in model SQL (`_dbt_max_partition` is a declared variable in
  // BigQuery scripts, not a jinja call)
  private val maxPartRe: Regex =
    """\{\{\s*_dbt_max_partition\s*\}\}|\b_dbt_max_partition\b""".r

  // dbt-utils `get_column_values` — the introspective set binding behind
  // dynamic pivots: `{% set xs = get_column_values(ref('m'), 'col') %}`
  // (or `source('a','b')`; optional third arg caps the row count). The
  // ENGINE resolves it at compile time against the built relation via
  // [[resolveColumnValues]]; the statement then becomes a plain literal
  // `{% set %}` the control-flow subset expands. Inside `{% %}` the ref
  // is BARE (jinja call position), not `{{ ref(...) }}`.
  private[graft] val getColValsRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*(?:dbt_utils\.)?get_column_values\(\s*""" +
      """(ref|source)\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)\s*,\s*'([^']+)'""" +
      """(?:\s*,\s*(\d+))?\s*\)\s*-?%\}""").r

  /** Dependency edges of a raw model SQL (parse phase — SURVEY §3.1 step 3:
    * `parent_map` is derived from ref/source calls before any execution).
    * Includes the refs/sources inside `get_column_values` bindings: an
    * introspected relation must be BUILT before this model compiles, so
    * it is a real DAG edge even when the body never selects from it.
    */
  def dependencies(rawSql0: String): (Seq[String], Seq[(String, String)]) = {
    // nested util calls (pivot-over-get_column_values) scan in their
    // set-binding normal form — same rewrite the compile path applies;
    // refs inside comments/raw blocks are NOT dependencies
    val rawSql = normalizeUtilCalls(protectRawAndStripComments(rawSql0))
    val intro = getColValsRe.findAllMatchIn(rawSql).toSeq.map(m =>
      (m.group(2), m.group(3), Option(m.group(4)))) ++
      starRe.findAllMatchIn(rawSql).toSeq.map(m =>
        (m.group(1), m.group(2), Option(m.group(3)))) ++
      unpivotRe.findAllMatchIn(rawSql).toSeq.map(m =>
        (m.group(1), m.group(2), Option(m.group(3)))) ++
      deduplicateRe.findAllMatchIn(rawSql).toSeq.flatMap(m =>
        Option(m.group(2)).map(n => (m.group(1), n, Option(m.group(3))))) ++
      getFilteredColsRe.findAllMatchIn(rawSql).toSeq.map(m =>
        (m.group(2), m.group(3), Option(m.group(4)))) ++
      unionRelationsRe.findAllMatchIn(rawSql).toSeq.flatMap(m =>
        relCallRe.findAllMatchIn(m.group(1)).toSeq.map(r =>
          (r.group(1), r.group(2), Option(r.group(3))))) ++
      // run_query probes: both the `~ ref('m') ~` concat pieces and
      // `{{ ref('m') }}` sites inside the quoted SQL — the probed
      // relation must be BUILT before this model compiles
      runQueryRe.findAllMatchIn(rawSql).toSeq.flatMap(m =>
        relCallRe.findAllMatchIn(m.group(3)).toSeq.map(r =>
          (r.group(1), r.group(2), Option(r.group(3)))))
    val refs = (refRe.findAllMatchIn(rawSql).map(_.group(1)).toSeq ++
      intro.collect { case ("ref", n, _) => n }).distinct
    val sources = (sourceRe.findAllMatchIn(rawSql)
      .map(m => (m.group(1), m.group(2))).toSeq ++
      intro.collect { case ("source", a, Some(b)) => (a, b) }).distinct
    (refs, sources)
  }

  // dbt-utils `star`: splice an upstream's column list (minus an
  // optional except list) — {{ star(ref('m')) }} or
  // {{ star(ref('m'), except=['a', 'b']) }}. Resolved by the ENGINE
  // from the built relation's parquet schema (metadata-only, no scan);
  // a real DAG edge like get_column_values. The canonical `dbt_utils.`
  // prefix is accepted like every other dbt-utils builtin — without it
  // a ported `{{ dbt_utils.star(...) }}` would leak raw Jinja to the
  // SQL parser as a cryptic parse error.
  private[graft] val starRe: Regex =
    ("""(?s)\{\{\s*(?:dbt_utils\.)?star\(\s*(ref|source)\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)""" +
      """((?:\s*,\s*(?:(?!\}\}).)*?)?)\s*\)\s*\}\}""").r

  // dbt-utils `get_filtered_columns_in_relation(from, except=[])` — the
  // column-name list binding behind write-it-yourself star loops
  // (`{% for col in cols %}`). Engine-resolved like get_column_values;
  // the relation is a DAG edge.
  private[graft] val getFilteredColsRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*""" +
      """(?:dbt_utils\.)?get_filtered_columns_in_relation\(\s*""" +
      """(?:from\s*=\s*)?(ref|source)\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)""" +
      """(?:\s*,\s*(?:except\s*=\s*)?(\[[^\]]*\]))?\s*\)\s*-?%\}""").r

  /** Replace every get_filtered_columns_in_relation binding with a
    * literal `{% set %}` list of the relation's column names minus the
    * except list; parse phase (empty fetch) binds `[]`.
    */
  def resolveFilteredColumns(sql: String,
      fetch: (String, String, Option[String]) => Seq[String]): String =
    getFilteredColsRe.replaceAllIn(sql, m => {
      val cols = fetch(m.group(2), m.group(3), Option(m.group(4)))
      val except = Option(m.group(5)).map(parseListLiteral).getOrElse(Nil)
      val missing = except.filterNot(e => cols.exists(_.equalsIgnoreCase(e)))
      require(cols.isEmpty || missing.isEmpty,
        s"get_filtered_columns_in_relation: except columns not in the " +
          s"relation: ${missing.mkString(", ")}")
      val kept = cols.filterNot(c => except.exists(_.equalsIgnoreCase(c)))
      Regex.quoteReplacement(s"{% set ${m.group(1)} = [" +
        kept.map(c => s"'$c'").mkString(", ") + "] %}")
    })

  /** Replace every `star(...)` site with the backquoted column list of
    * the referenced relation, minus the (case-insensitive) except list;
    * `fetch(kind, name, table)` returns the schema's column names in
    * order. An except column that doesn't exist fails loudly (dbt-utils
    * silently ignores it — a typo'd except then leaks the column, the
    * exact silent wrongness this engine refuses).
    */
  def resolveStar(sql: String,
      fetch: (String, String, Option[String]) => Seq[String]): String =
    starRe.replaceAllIn(sql, m => {
      val cols = fetch(m.group(1), m.group(2), Option(m.group(3)))
      val kw = splitArgs(Option(m.group(4)).getOrElse(""))
        .filter(_.nonEmpty).map(a => a.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"star: expected kwarg, got '$a'")
        }).toMap
      val unknownKw = kw.keySet --
        Set("except", "relation_alias", "prefix", "suffix")
      require(unknownKw.isEmpty,
        s"star: unknown kwargs ${unknownKw.toSeq.sorted.mkString(", ")}")
      // parse-phase sentinel: dbt-utils' star returns the literal '*'
      // when execute is false (no warehouse to introspect) — the
      // compile-artifact path passes Seq("*") to ask for exactly that
      if (cols == Seq("*")) Regex.quoteReplacement("*")
      else {
      val except = kw.get("except").map(parseListLiteral).getOrElse(Nil)
      val missing = except.filterNot(e =>
        cols.exists(_.equalsIgnoreCase(e)))
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"star(except=...): columns not in the relation: " +
            missing.mkString(", "))
      val kept = cols.filterNot(c => except.exists(_.equalsIgnoreCase(c)))
      if (kept.isEmpty)
        throw new IllegalArgumentException(
          "star(): except list removes every column")
      // dbt-utils kwargs: relation_alias qualifies, prefix/suffix alias
      val alias = kw.get("relation_alias").map(stripQuotes)
        .filterNot(v => v.isEmpty || v.equalsIgnoreCase("false"))
      val prefix = kw.get("prefix").map(stripQuotes).getOrElse("")
      val suffix = kw.get("suffix").map(stripQuotes).getOrElse("")
      Regex.quoteReplacement(kept.map { c =>
        val src = alias.fold(s"`$c`")(a => s"$a.`$c`")
        if (prefix.nonEmpty || suffix.nonEmpty) s"$src AS `$prefix$c$suffix`"
        else src
      }.mkString(", "))
      }
    })

  // dbt-utils `union_relations`: UNION ALL over refs/sources with
  // missing columns NULL-filled to the union schema (the sharded /
  // heterogeneous-sources idiom) — {{ union_relations([ref('a'),
  // ref('b'), source('s','t')]) }}. Engine-resolved from parquet schema
  // metadata; every listed relation is a DAG edge.
  private[graft] val unionRelationsRe: Regex =
    ("""(?s)\{\{\s*(?:dbt_utils\.)?union_relations\(\s*""" +
      """(?:relations\s*=\s*)?(\[[^\]]*\])\s*\)\s*\}\}""").r

  // dbt-utils `pivot`: one aggregated CASE column per value —
  // `sum(case when col = 'v' then 1 else 0 end) as v`. Values come from
  // a literal list, a {% set %}-bound list, or (via
  // [[normalizeUtilCalls]]) a nested get_column_values call. Expanded
  // at the control-flow stage where set bindings are known.
  private val pivotRe: Regex =
    """(?s)\{\{\s*(?:dbt_utils\.)?pivot\(\s*((?:(?!\}\}).)*?)\s*\)\s*\}\}""".r

  // `{{ pivot('c', get_column_values(ref('m'), 'c')[, kwargs]) }}` —
  // the nested dbt-utils idiom. Normalized into the set-binding form
  // (`{% set __pivot_vals_N = get_column_values(...) %}`) so the
  // existing introspection machinery (and its DAG edge) handles the
  // probe; the pivot site then references the bound list.
  private val nestedPivotValsRe: Regex =
    ("""(?s)\{\{\s*((?:dbt_utils\.)?pivot)\(\s*('[^']+')\s*,\s*""" +
      """((?:dbt_utils\.)?get_column_values\((?:[^()]|\([^()]*\))*\))""" +
      """((?:\s*,\s*(?:(?!\}\}).)*?)?)\s*\)\s*\}\}""").r

  /** Rewrite nested util-call compositions into their set-binding
    * normal forms (currently: get_column_values nested in pivot). Run
    * before dependency scanning AND before introspection so both see
    * the canonical spelling.
    */
  def normalizeUtilCalls(sql: String): String = {
    if (!sql.contains("pivot(")) return sql
    var i = 0
    nestedPivotValsRe.replaceAllIn(sql, m => {
      i += 1
      val nm = s"__pivot_vals_$i"
      Regex.quoteReplacement(
        s"{% set $nm = ${m.group(3)} %}" +
          s"{{ ${m.group(1)}(${m.group(2)}, $nm${m.group(4)}) }}")
    })
  }

  private def expandPivot(sql: String,
      binds: scala.collection.Map[String, String]): String =
    pivotRe.replaceAllIn(sql, m => {
      val args = splitArgs(m.group(1))
      require(args.size >= 2, "pivot(column, values, ...) needs at least " +
        s"2 arguments, got ${args.size} in (${m.group(1)})")
      require(args(0).startsWith("'") || args(0).startsWith("\""),
        s"pivot: column must be a quoted string, got '${args(0)}'")
      val column = stripQuotes(args(0))
      val valuesTxt = args(1).trim
      val values =
        if (valuesTxt.startsWith("[")) parseListLiteral(valuesTxt)
        else parseListLiteral(binds.getOrElse(valuesTxt,
          throw new IllegalArgumentException(
            s"pivot: values '$valuesTxt' is neither a list literal nor " +
              "a {% set %}-bound list")))
      // an empty list renders NOTHING — dbt's pivot does the same;
      // the parse-phase artifact of the nested get_column_values idiom
      // hits this (probes return [] with execute=false)
      val kw = args.drop(2).map(a => a.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"pivot: expected kwarg, got '$a'")
      }).toMap
      val known = Set("alias", "agg", "cmp", "prefix", "suffix",
        "then_value", "else_value", "quote_identifiers", "distinct")
      val unknown = kw.keySet -- known
      require(unknown.isEmpty,
        s"pivot: unknown kwargs ${unknown.toSeq.sorted.mkString(", ")}")
      def flag(k: String, d: Boolean) =
        kw.get(k).fold(d)(_.equalsIgnoreCase("true"))
      val alias = flag("alias", d = true)
      val quote = flag("quote_identifiers", d = true)
      val distinct = flag("distinct", d = false)
      val agg = stripQuotes(kw.getOrElse("agg", "'sum'"))
      val cmp = stripQuotes(kw.getOrElse("cmp", "'='"))
      val prefix = stripQuotes(kw.getOrElse("prefix", "''"))
      val suffix = stripQuotes(kw.getOrElse("suffix", "''"))
      val thenV = kw.getOrElse("then_value", "1")
      val elseV = kw.getOrElse("else_value", "0")
      val colRef = if (quote) s"`$column`" else column
      Regex.quoteReplacement(values.map { v =>
        val lit = "'" + v.replace("'", "''") + "'"
        val aliasTxt =
          if (!alias) ""
          else if (quote) s" AS `$prefix$v$suffix`"
          else s" AS $prefix$v$suffix"
        s"$agg(${if (distinct) "distinct " else ""}case when $colRef " +
          s"$cmp $lit then $thenV else $elseV end)$aliasTxt"
      }.mkString(", "))
    })

  // dbt-utils `unpivot`: melt a relation's columns into (field_name,
  // value) rows via UNION ALL — one SELECT per melted column, `exclude`
  // columns carried through as-is, `remove` columns dropped. Schema
  // comes from the engine's metadata-only fetch (a real DAG edge, like
  // star/union_relations). `cast_to` defaults to dbt-utils' 'varchar',
  // rendered as Spark's `string`.
  private[graft] val unpivotRe: Regex =
    ("""(?s)\{\{\s*(?:dbt_utils\.)?unpivot\(\s*(ref|source)\(\s*'([^']+)'""" +
      """(?:\s*,\s*'([^']+)')?\s*\)""" +
      """((?:\s*,\s*(?:(?!\}\}).)*?)?)\s*\)\s*\}\}""").r

  /** Replace every `unpivot(...)` site with its UNION ALL expansion;
    * `fetch(kind, name, table)` returns (relation SQL text, schema).
    */
  def resolveUnpivot(sql: String,
      fetch: (String, String, Option[String]) => (String, Seq[(String, String)]))
      : String =
    unpivotRe.replaceAllIn(sql, m => {
      val kw = splitArgs(m.group(4)).filter(_.nonEmpty)
        .map(a => a.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"unpivot: expected kwarg, got '$a'")
        }).toMap
      val known = Set("cast_to", "exclude", "remove", "field_name",
        "value_name", "quote_identifiers")
      val unknown = kw.keySet -- known
      require(unknown.isEmpty,
        s"unpivot: unknown kwargs ${unknown.toSeq.sorted.mkString(", ")}")
      val (relText, schema) = fetch(m.group(1), m.group(2),
        Option(m.group(3)))
      // parse phase: no schema to melt — star placeholder, never run
      if (schema.isEmpty)
        Regex.quoteReplacement(s"SELECT * FROM $relText")
      else {
      val castTo0 = stripQuotes(kw.getOrElse("cast_to", "'varchar'"))
      val castTo =
        if (castTo0.equalsIgnoreCase("varchar")) "string" else castTo0
      val excl = kw.get("exclude").map(parseListLiteral).getOrElse(Nil)
      val remove = kw.get("remove").map(parseListLiteral).getOrElse(Nil)
      val names = schema.map(_._1.toLowerCase).toSet
      (excl ++ remove).foreach(c => require(names.contains(c.toLowerCase),
        s"unpivot: column '$c' not in ${m.group(2)}'s schema " +
          s"(${schema.map(_._1).mkString(", ")})"))
      val exclL = excl.map(_.toLowerCase).toSet
      val removeL = remove.map(_.toLowerCase).toSet
      val fieldName = stripQuotes(kw.getOrElse("field_name", "'field_name'"))
      val valueName = stripQuotes(kw.getOrElse("value_name", "'value'"))
      val quote = kw.get("quote_identifiers")
        .fold(true)(_.equalsIgnoreCase("true"))
      def q(n: String) = if (quote) s"`$n`" else n
      val kept = schema.map(_._1)
        .filter(c => exclL.contains(c.toLowerCase))
      val melted = schema.map(_._1).filterNot(c =>
        exclL.contains(c.toLowerCase) || removeL.contains(c.toLowerCase))
      require(melted.nonEmpty, "unpivot: no columns left to unpivot " +
        "after exclude/remove")
      Regex.quoteReplacement(melted.map { cn =>
        val sel = kept.map(q) ++ Seq(
          s"'$cn' AS ${q(fieldName)}",
          s"CAST(${q(cn)} AS $castTo) AS ${q(valueName)}")
        s"SELECT ${sel.mkString(", ")} FROM $relText"
      }.mkString("\nUNION ALL\n"))
      }
    })

  private[graft] val relCallRe: Regex =
    """(ref|source)\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)""".r

  /** Replace every `union_relations([...])` site with the UNION ALL of
    * its relations projected to the union schema — columns ordered by
    * first appearance, a missing column NULL-filled with the type it
    * has where present, plus dbt-utils' `_dbt_source_relation` lineage
    * column. `fetch(kind, name, table)` returns (relation SQL text,
    * schema as (column, DDL type) pairs).
    */
  def resolveUnionRelations(sql: String,
      fetch: (String, String, Option[String]) => (String, Seq[(String, String)]))
      : String =
    unionRelationsRe.replaceAllIn(sql, m => {
      val rels = relCallRe.findAllMatchIn(m.group(1)).toSeq
        .map(r => (r.group(1), r.group(2), Option(r.group(3))))
      require(rels.size >= 2,
        "union_relations needs at least two ref()/source() entries")
      val fetched = rels.map { case (k, a, b) =>
        val (text, schema) = fetch(k, a, b)
        (if (b.isDefined) s"$k('$a', '${b.get}')" else s"$k('$a')", text, schema)
      }
      Regex.quoteReplacement(renderUnion(fetched))
    })

  /** The UNION ALL body over (label, relation text, schema) triples —
    * union schema in first-appearance order; type from the first
    * relation that has the column (a cross-relation type CONFLICT fails
    * loudly — silently casting is how shards corrupt); missing columns
    * NULL-filled; dbt-utils' `_dbt_source_relation` lineage column
    * appended. A fetch with NO schemas (parse phase) renders a
    * star-shaped placeholder — the artifact text is never executed.
    */
  private def renderUnion(
      fetched: Seq[(String, String, Seq[(String, String)])]): String = {
    val unionCols = scala.collection.mutable.LinkedHashMap.empty[String, String]
    fetched.foreach { case (label, _, schema) =>
      schema.foreach { case (c, t) =>
        unionCols.get(c) match {
          case None => unionCols(c) = t
          case Some(t0) if t0 != t => throw new IllegalArgumentException(
            s"union_relations: column '$c' is $t0 upstream but $t in " +
              s"$label — align the shards or cast in a staging model")
          case _ => ()
        }
      }
    }
    fetched.map { case (label, text, schema) =>
      val proj =
        if (unionCols.isEmpty) Seq("*")
        else {
          val have = schema.map(_._1).toSet
          unionCols.toSeq.map { case (c, t) =>
            if (have.contains(c)) s"`$c`"
            else s"CAST(NULL AS $t) AS `$c`"
          }
        }
      val full = proj :+
        s"'${label.replace("'", "''")}' AS `_dbt_source_relation`"
      s"SELECT ${full.mkString(", ")} FROM $text"
    }.mkString("\nUNION ALL\n")
  }

  // dbt-utils `get_relations_by_pattern(schema_pattern, table_pattern
  // [, exclude])`: bind the WAREHOUSE relations matching the SQL LIKE
  // patterns, consumed by `union_relations(relations=<binding>)` — the
  // sharded-table idiom. Like dbt, the patterns match what EXISTS at
  // compile time (a prior run or an earlier DAG stage must have built
  // the shards — no static edge is derivable from a pattern; dbt has
  // the same hazard). Execute-mode empty matches fail loudly in the
  // engine's fetch; a parse-phase empty list renders a zero-row
  // placeholder.
  private[graft] val getRelsByPatternRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*""" +
      """(?:dbt_utils\.)?get_relations_by_pattern\(\s*'([^']*)'\s*,""" +
      """\s*'([^']*)'(?:\s*,\s*'([^']*)')?\s*\)\s*-?%\}""").r
  private val unionRelsBoundRe: Regex =
    ("""\{\{\s*(?:dbt_utils\.)?union_relations\(\s*""" +
      """(?:relations\s*=\s*)?([A-Za-z_]\w*)\s*\)\s*\}\}""").r

  /** Resolve pattern bindings and their bound union_relations sites;
    * `list(schemaPat, tablePat, excludePat)` returns (label, relation
    * text, schema) triples for the matching relations.
    */
  def resolveRelationsByPattern(sql: String,
      list: (String, String, Option[String]) =>
        Seq[(String, String, Seq[(String, String)])]): String = {
    if (!sql.contains("get_relations_by_pattern")) return sql
    val binds = scala.collection.mutable.Map
      .empty[String, Seq[(String, String, Seq[(String, String)])]]
    var out = getRelsByPatternRe.replaceAllIn(sql, m => {
      binds(m.group(1)) = list(m.group(2), m.group(3), Option(m.group(4)))
      ""
    })
    out = unionRelsBoundRe.replaceAllIn(out, m =>
      binds.get(m.group(1)) match {
        case None => Regex.quoteReplacement(m.matched) // literal-list form
        case Some(Nil) => // parse phase: never-executed placeholder
          Regex.quoteReplacement(
            "SELECT '' AS `_dbt_source_relation` WHERE 1 = 0")
        case Some(rels) => Regex.quoteReplacement(renderUnion(rels))
      })
    require(!out.contains("get_relations_by_pattern"),
      "get_relations_by_pattern: only the {% set x = ... %} binding " +
        "form is supported")
    out
  }

  /** Replace every `get_column_values` set binding with a literal list
    * binding, using `fetch(kind, name, table, column, maxRecords)` to
    * pull the distinct non-null values in dbt-utils' default order —
    * count(*) DESC, with the value itself as a deterministic tie-break
    * (engine-side: a control-plane query over the already-built
    * relation — the dbt introspection contract; values land as quoted
    * items in the SET literal, so templates write `'{{ v }}'` for SQL
    * strings and `{{ v }}` bare for numerics, same as any loop
    * variable). A value containing a quote fails loudly rather than
    * splicing a mis-quoted literal.
    */
  def resolveColumnValues(sql: String,
      fetch: (String, String, Option[String], String, Int) => Seq[String])
      : String =
    getColValsRe.replaceAllIn(sql, m => {
      val vals = fetch(m.group(2), m.group(3), Option(m.group(4)),
        m.group(5), Option(m.group(6)).map(_.toInt).getOrElse(500))
      vals.find(_.contains("'")).foreach(v =>
        throw new IllegalArgumentException(
          s"get_column_values: value containing a quote unsupported: $v"))
      Regex.quoteReplacement(
        s"{% set ${m.group(1)} = [" +
          vals.map(v => s"'$v'").mkString(", ") + "] %}")
    })

  // -------------------------------------------------- run_query results

  /** A bounded compile-time query result — dbt's `run_query` agate
    * table. `columns` are the result's column names; `rows` hold the
    * stringified values ([[String.valueOf]], so NULL renders as the text
    * `null` like any loop variable would). The ENGINE executes the query
    * (a control-plane probe, row-capped, fail-loud beyond) and the
    * control-flow subset consumes the binding: `{% for r in rs %}` row
    * iteration with `{{ r[0] }}` / `{{ r['col'] }}` / `{{ r.col }}`
    * accessors, `{% for v in rs.columns[0].values() %}` column
    * iteration, and `{{ rs.columns[0].values() | join(', ') }}`
    * reduction sites.
    */
  final case class QueryResult(columns: Seq[String], rows: Seq[Seq[String]],
      // a get_query_results_as_dict binding: accessed by COLUMN
      // (`d['col']` / `d.col` → that column's value list), never by row
      dict: Boolean = false)

  // `{% set rs = run_query(<expr>) %}` — 12 of the reference's 184
  // macros call run_query; the general introspective-compile idiom
  // behind get_column_values-style dynamic SQL. The argument expression
  // is quoted SQL, optionally `~`-concatenated with bare ref()/source()
  // calls (dbt's canonical `run_query("select ... from " ~ ref('m'))`).
  // dbt-utils' get_query_results_as_dict shares the execution path but
  // binds a column-keyed dict instead of agate rows.
  private[graft] val runQueryRe: Regex =
    ("""(?s)\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*""" +
      """(?:dbt_utils\.)?(run_query|get_query_results_as_dict)""" +
      """\((.*?)\)\s*-?%\}""").r

  /** Split at `~` outside quotes (Jinja string concatenation). A
    * doubled quote inside a quoted span is the SQL-level escape
    * (`'select ''a~b'' from t'`) — it stays INSIDE the string rather
    * than flipping the quote state, so a later `~` still splits and a
    * `~` between the doubled quotes never does.
    */
  private def splitTilde(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var q: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '\'' | '"' =>
          if (q == 0) q = c
          else if (q == c) {
            if (i + 1 < s.length && s.charAt(i + 1) == c) {
              sb.append(c); i += 1 // escaped quote: consume both, stay in
            } else q = 0
          }
          sb.append(c)
        case '~' if q == 0 => out += sb.result(); sb.clear()
        case _ => sb.append(c)
      }
      i += 1
    }
    out += sb.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Resolve `{{ ref/source/this }}` sites inside raw SQL text through
    * `rel(kind, name, table)` (`this` passes kind="this", name="").
    */
  private def resolveRelSites(text: String,
      rel: (String, String, Option[String]) => String): String = {
    val t1 = refRe.replaceAllIn(text,
      m => Regex.quoteReplacement(rel("ref", m.group(1), None)))
    val t2 = sourceRe.replaceAllIn(t1, m =>
      Regex.quoteReplacement(rel("source", m.group(1), Some(m.group(2)))))
    // Match-function overload: rel("this") must only fire when a
    // `{{ this }}` site EXISTS (a this-less statement in a context with
    // no this would otherwise fail spuriously)
    thisRe.replaceAllIn(t2, _ => Regex.quoteReplacement(rel("this", "", None)))
  }

  /** Assemble a run_query argument expression into plain SQL:
    * quoted pieces splice verbatim (both quote styles), bare
    * `ref()`/`source()`/`this` pieces — and `{{ ref/source/this }}`
    * sites embedded INSIDE quoted pieces — resolve through
    * `rel(kind, name, table)` (`this` passes kind="this", name="").
    * Anything else fails loudly (Python expressions are out of scope).
    * `this` covers dbt's canonical incremental probe,
    * `run_query('select max(ts) from ' ~ this)`.
    */
  private[graft] def assembleRunQueryArg(arg: String,
      rel: (String, String, Option[String]) => String): String =
    splitTilde(arg).map {
      case p if p.startsWith("'") || p.startsWith("\"") =>
        resolveRelSites(stripQuotes(p), rel)
      case "this" => rel("this", "", None)
      case relCallRe(kind, a, b) => rel(kind, a, Option(b))
      case other => throw new IllegalArgumentException(
        s"run_query: unsupported expression piece '$other' — use quoted " +
          "SQL, optionally ~-concatenated with ref()/source()/this")
    }.mkString

  // dbt `statement` call blocks + `load_result` — the long-form spelling
  // of run_query (in dbt-core, run_query IS statement + load_result
  // sugar; reference `statement` @21499). The block body is raw
  // templated SQL; `fetch_result=true` stores the bounded result for
  // later load_result sites. A fetchless statement still executes (DDL/
  // DML side effects) but binds nothing.
  private val statementBlockRe: Regex =
    ("""(?s)\{%-?\s*call\s+statement\(\s*'([^']+)'""" +
      """((?:\s*,\s*[A-Za-z_]\w*\s*=\s*[A-Za-z]\w*)*)\s*\)\s*-?%\}""" +
      """(.*?)\{%-?\s*endcall\s*-?%\}""").r
  private val loadResultCellRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*load_result\(\s*'([^']+)'\s*\)""" +
      """\s*\[\s*'data'\s*\]\s*\[(\d+)\]\s*\[(\d+)\]\s*-?%\}""").r
  private val loadResultTableRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*load_result\(\s*'([^']+)'\s*\)""" +
      """(?:\s*\.\s*table|\s*\[\s*'table'\s*\])?\s*-?%\}""").r
  private val loadResultInlineRe: Regex =
    ("""\{\{\s*load_result\(\s*'([^']+)'\s*\)""" +
      """\s*\[\s*'data'\s*\]\s*\[(\d+)\]\s*\[(\d+)\]\s*\}\}""").r

  /** Execute every `{% call statement('n'[, fetch_result=true]) %}…{%
    * endcall %}` block via `exec` (relation sites resolved through
    * `rel`) and resolve the `load_result('n')` accessor sites:
    * `{% set x = load_result('n') %}` (or `.table`) binds the result as
    * a row table for the control-flow subset; `['data'][i][j]` — as a
    * set RHS or an interpolation — splices the cell. Any other
    * load_result spelling, or a load of a name never fetched, fails
    * loudly. Returns the cleaned SQL plus the table bindings.
    */
  private[graft] def resolveStatements(sql: String,
      rel: (String, String, Option[String]) => String,
      exec: String => QueryResult,
      // materialization mode: fetchless statement blocks are ACTIONS
      // (DDL/DML the engine executes in document order later), not
      // probes — leave them in place untouched
      deferFetchless: Boolean = false): (String, Map[String, QueryResult]) = {
    if (!sql.contains("statement(") && !sql.contains("load_result("))
      return (sql, Map.empty)
    val results = scala.collection.mutable.Map.empty[String, QueryResult]
    var out = statementBlockRe.replaceAllIn(sql, m => {
      val (name, opts, body) = (m.group(1), m.group(2), m.group(3))
      val fetch = """fetch_result\s*=\s*([A-Za-z]\w*)""".r
        .findFirstMatchIn(opts).exists(_.group(1).equalsIgnoreCase("true"))
      if (!fetch && deferFetchless) Regex.quoteReplacement(m.matched)
      else {
        val r = exec(resolveRelSites(body.trim, rel))
        if (fetch) results(name) = r
        ""
      }
    })
    def lookup(n: String): QueryResult = results.getOrElse(n,
      throw new IllegalArgumentException(
        s"load_result('$n'): no statement('$n', fetch_result=true) ran " +
          s"before this site (fetched: " +
          s"${results.keys.toSeq.sorted.mkString(", ")})"))
    def cell(n: String, i: Int, j: Int): String = {
      val t = lookup(n)
      require(i < t.rows.size && j < t.columns.size,
        s"load_result('$n')['data'][$i][$j] out of range " +
          s"(${t.rows.size} rows x ${t.columns.size} columns)")
      t.rows(i)(j)
    }
    out = loadResultCellRe.replaceAllIn(out, m => {
      val v = cell(m.group(2), m.group(3).toInt, m.group(4).toInt)
      Regex.quoteReplacement(
        if (v.matches("""-?\d+(\.\d+)?""")) s"{% set ${m.group(1)} = $v %}"
        else {
          require(!v.contains("'"), s"load_result cell containing a " +
            s"quote cannot splice into a set literal: $v")
          s"{% set ${m.group(1)} = '$v' %}"
        })
    })
    out = loadResultInlineRe.replaceAllIn(out, m => Regex.quoteReplacement(
      cell(m.group(1), m.group(2).toInt, m.group(3).toInt)))
    val bound = scala.collection.mutable.Map.empty[String, QueryResult]
    out = loadResultTableRe.replaceAllIn(out, m => {
      bound(m.group(1)) = lookup(m.group(2)); ""
    })
    if (out.contains("load_result("))
      throw new IllegalArgumentException(
        "load_result: unsupported accessor spelling — use " +
          "{% set x = load_result('n') %} (row table), " +
          "{% set x = load_result('n')['data'][i][j] %}, or " +
          "{{ load_result('n')['data'][i][j] }}")
    (out, bound.toMap)
  }

  /** Strip every `{% set x = run_query(...) %}` statement, executing
    * each via `exec` (the ENGINE's bounded probe) after assembling its
    * argument with `rel`. Returns the cleaned SQL plus the name→result
    * bindings [[expandControlFlow]] consumes.
    */
  def resolveRunQueries(sql: String,
      rel: (String, String, Option[String]) => String,
      exec: String => QueryResult,
      deferFetchless: Boolean = false): (String, Map[String, QueryResult]) = {
    // statement/load_result (run_query's long form) rides the same
    // probe executor, so every call site gains both spellings
    val (sql1, stmtTables) = resolveStatements(sql, rel, exec, deferFetchless)
    val tables = scala.collection.mutable.Map.empty[String, QueryResult]
    val out = runQueryRe.replaceAllIn(sql1, m => {
      tables(m.group(1)) = exec(assembleRunQueryArg(m.group(3), rel))
        .copy(dict = m.group(2) == "get_query_results_as_dict")
      ""
    })
    (out, stmtTables ++ tables.toMap)
  }

  /** A dict binding's column as a value list; fails loudly on an
    * unknown column (case-insensitive lookup, like row accessors).
    */
  private def dictColumn(name: String, col: String,
      tables: Map[String, QueryResult]): Seq[String] = {
    val t = tables(name)
    val i = ciColumnIndex(t.columns, col,
      s"get_query_results_as_dict binding '$name'")
    t.rows.map(_(i))
  }

  /** Case-insensitive column lookup for row/dict accessors (Spark
    * lowercases unquoted result aliases, so a case-sensitive match would
    * miss `{{ r.ST }}` against `SELECT x AS ST`) — but a result with TWO
    * case-distinct columns matching the accessor is ambiguous and fails
    * loudly rather than silently binding whichever came first.
    */
  private def ciColumnIndex(cols: Seq[String], cn: String,
      what: String): Int = {
    val hits = cols.zipWithIndex.filter(_._1.equalsIgnoreCase(cn))
    require(hits.size <= 1,
      s"$what: column accessor '$cn' is ambiguous — matches " +
        s"${hits.map(_._1).mkString(", ")} (case-insensitive); rename " +
        "the probe's aliases apart")
    require(hits.nonEmpty,
      s"$what has no column '$cn' (columns: ${cols.mkString(", ")})")
    hits.head._2
  }

  // `d['col']` / `d.col` — the column accessor of a
  // get_query_results_as_dict binding (loop iterable or reduction site)
  private val dictColRe: Regex =
    """([A-Za-z_]\w*)(?:\['([^']+)'\]|\.([A-Za-z_]\w*))""".r

  /** Resolve a `name.columns[i].values()` accessor against the bound
    * run_query results.
    */
  private def tableColumn(accessor: String,
      tables: Map[String, QueryResult]): Seq[String] = accessor match {
    case colValuesRe(tn, ci) =>
      val t = tables.getOrElse(tn, throw new IllegalArgumentException(
        s"'$tn' is not a run_query binding (bound: " +
          s"${tables.keys.toSeq.sorted.mkString(", ")})"))
      val i = ci.toInt
      require(i < t.columns.size,
        s"$accessor: result has ${t.columns.size} columns")
      t.rows.map(_(i))
    case other => throw new IllegalArgumentException(
      s"unsupported column accessor '$other'")
  }

  /** Substitute one result row into a loop body: `{{ r[0] }}`,
    * `{{ r['col'] }}` and `{{ r.col }}` accessor sites (each with
    * optional filter chains). Unknown columns / out-of-range indexes
    * fail loudly.
    */
  private def substRowAccessors(v: String, cols: Seq[String],
      row: Seq[String], body0: String): String = {
    def applyChain(value: String, chain: String): String =
      if (chain == null || chain.trim.isEmpty) value
      else applyFilterSeq(value, parseFilters(chain))
    val idxRe = ("""\{\{\s*""" + Regex.quote(v) +
      """\[(\d+)\]\s*(""" + filterChainPat + """*)\s*\}\}""").r
    var b = idxRe.replaceAllIn(body0, m => {
      val i = m.group(1).toInt
      require(i < row.size,
        s"row accessor $v[$i] out of range (${row.size} columns)")
      Regex.quoteReplacement(applyChain(row(i), m.group(2)))
    })
    val nameRe = ("""\{\{\s*""" + Regex.quote(v) +
      """(?:\['([^']+)'\]|\.([A-Za-z_]\w*))\s*(""" +
      filterChainPat + """*)\s*\}\}""").r
    b = nameRe.replaceAllIn(b, m => {
      val cn = Option(m.group(1)).getOrElse(m.group(2))
      // deliberately case-INsensitive, unlike dbt's agate rows: Spark
      // lowercases unquoted result aliases, so `{{ r.ST }}` against a
      // probe `SELECT x AS ST` would otherwise never match; ambiguity
      // (two case-distinct matches) fails loudly in ciColumnIndex
      val i = ciColumnIndex(cols, cn, "row")
      Regex.quoteReplacement(applyChain(row(i), m.group(3)))
    })
    b
  }

  // ------------------------------------------ builtin dbt-utils macros
  // The everyday dbt-utils/dbt-core surface that renders PURE SQL text
  // (no engine data needed), resolved during [[compile]] — AFTER user
  // macro expansion at project load, so a project defining its own
  // macro of the same name wins (dbt resolution order). `dbt_utils.`
  // prefixes are accepted and optional.

  // generate_surrogate_key(['a', 'b']): md5 over '-'-joined stringified
  // columns with dbt-utils' null placeholder — byte-identical to the
  // reference implementation's output (manifest.json macro surface)
  private val surrogateKeyRe: Regex =
    ("""\{\{\s*(?:dbt_utils\.)?generate_surrogate_key\(\s*""" +
      """(\[[^\]]*\])\s*\)\s*\}\}""").r

  // date_spine('day', "'2020-01-01'", "'2020-02-01'"): one row per
  // period from start inclusive to end EXCLUSIVE, column date_<part> —
  // the canonical double-quoted-args call shape from the dbt-utils docs
  private val dateSpineRe: Regex =
    ("""\{\{\s*(?:dbt_utils\.)?date_spine\(\s*'(\w+)'\s*,\s*""" +
      """"([^"]+)"\s*,\s*"([^"]+)"\s*\)\s*\}\}""").r

  // safe_cast(expr, type) → TRY_CAST (identical semantics in Spark and
  // DuckDB: NULL on a failed runtime conversion)
  private val safeCastRe: Regex =
    """\{\{\s*(?:dbt_utils\.)?safe_cast\(\s*(.+?)\s*,\s*'([^']+)'\s*\)\s*\}\}""".r

  // dbt-core cross-db date macros, the Spark-adapter renderings:
  // dateadd → timestampadd (any standard unit); datediff for every
  // standard unit with dbt's BOUNDARY-COUNT semantics (see the rendering
  // below); last_day for 'month' → last_day()
  private val dateaddRe: Regex =
    """\{\{\s*(?:dbt_utils\.)?dateadd\(\s*'(\w+)'\s*,\s*([^,]+?)\s*,\s*(.+?)\s*\)\s*\}\}""".r
  private val datediffRe: Regex =
    """\{\{\s*(?:dbt_utils\.)?datediff\(\s*(.+?)\s*\)\s*\}\}""".r
  private val lastDayRe: Regex =
    """\{\{\s*(?:dbt_utils\.)?last_day\(\s*(.+?)\s*,\s*'(\w+)'\s*\)\s*\}\}""".r
  private val DateParts =
    Set("year", "quarter", "month", "week", "day", "hour", "minute", "second")

  // BigQuery comma-UNNEST → Spark LATERAL VIEW explode (the reference's
  // flagship model shape, models/aggr_repo_languages.sql:4 —
  // `FROM src, unnest(language) as lang`). Both dialects DROP rows whose
  // array is empty or NULL (SURVEY §2.A A2), and `alias.field` struct
  // access carries over unchanged, so the rewrite is semantics-preserving.
  private val unnestRe: Regex =
    """(?i),\s*unnest\(\s*([^()]+?)\s*\)\s+(?:as\s+)?([A-Za-z_]\w*)""".r

  // dbt cross-database macros + dbt-utils conveniences: pure textual
  // Spark-dialect renderings (the reference manifest defines each as an
  // adapter-dispatched macro; the engine renders the spark__ form
  // directly). Only `{{ … }}` sites match — plain SQL date_trunc()/
  // length()/replace() pass through untouched.
  private val crossDbRe: Regex =
    ("""(?s)\{\{\s*(?:dbt\.|dbt_utils\.)?(type_string|type_timestamp|""" +
      """type_int|type_bigint|type_float|type_numeric|type_boolean|""" +
      """string_literal|escape_single_quotes|replace|length|position|""" +
      """right|left|split_part|bool_or|any_value|cast_bool_to_text|""" +
      """date_trunc|current_timestamp|group_by|hash|safe_add|""" +
      """safe_subtract|safe_divide|get_url_parameter|get_url_host|""" +
      """get_url_path|width_bucket|generate_series)""" +
      """\(((?:(?!\}\}).)*?)\)\s*\}\}""").r

  private def expandCrossDbMacros(sql0: String): String =
    crossDbRe.replaceAllIn(sql0, m => {
      val name = m.group(1)
      val args = splitArgs(m.group(2))
      // dbt's cross-db macros take their SQL arguments as Jinja STRINGS
      // and splice the contents raw (`dbt.length("o_name")` renders
      // `length(o_name)`; a literal needs its own inner quotes,
      // `dbt.replace("c", "'.'", "'_'")`) — so every expression arg
      // sheds exactly one quote layer
      def a(i: Int) = stripOneJinjaQuote(args(i))
      def nargs(n: Int): Unit = require(args.length == n,
        s"$name: expected $n argument(s), got ${args.length} " +
          s"in (${m.group(2)})")
      Regex.quoteReplacement(name match {
        case "type_string" => "string"
        case "type_timestamp" => "timestamp"
        case "type_int" => "int"
        case "type_bigint" => "bigint"
        case "type_float" => "float"
        case "type_numeric" => "decimal(28, 6)"
        case "type_boolean" => "boolean"
        case "current_timestamp" => "current_timestamp()"
        case "string_literal" => nargs(1); s"'${a(0)}'"
        // returns the ESCAPED TEXT, not a quoted literal (dbt parity)
        case "escape_single_quotes" =>
          nargs(1); a(0).replace("'", "''")
        case "replace" => nargs(3)
          s"replace(${a(0)}, ${a(1)}, ${a(2)})"
        case "length" => nargs(1); s"length(${a(0)})"
        // dbt order: position(substring_text, string_text)
        case "position" => nargs(2); s"position(${a(0)}, ${a(1)})"
        case "right" => nargs(2); s"right(${a(0)}, ${a(1)})"
        case "left" => nargs(2); s"left(${a(0)}, ${a(1)})"
        case "split_part" => nargs(3)
          s"split_part(${a(0)}, ${a(1)}, ${a(2)})"
        case "bool_or" => nargs(1); s"bool_or(${a(0)})"
        case "any_value" => nargs(1); s"any_value(${a(0)})"
        case "cast_bool_to_text" => nargs(1); s"cast(${a(0)} as string)"
        // the datepart re-quotes (dbt body: date_trunc('{{ part }}', …))
        case "date_trunc" => nargs(2); s"date_trunc('${a(0)}', ${a(1)})"
        case "group_by" => nargs(1)
          val n = a(0).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"group_by: needs an integer, got '${a(0)}'"))
          require(n >= 1, s"group_by($n): needs n >= 1")
          "group by " + (1 to n).mkString(", ")
        case "hash" => nargs(1); s"md5(cast(${a(0)} as string))"
        case "safe_add" | "safe_subtract" =>
          val fields =
            if (args.length == 1 && args(0).trim.startsWith("["))
              parseListLiteral(args(0))
            else args.indices.map(a) // legacy variadic spelling
          require(fields.size >= 2,
            s"$name: needs at least two fields, got $fields")
          val op = if (name == "safe_add") " + " else " - "
          fields.map(f => s"coalesce($f, 0)").mkString(op)
        case "safe_divide" => nargs(2)
          s"(${a(0)}) / nullif(${a(1)}, 0)"
        // dbt-utils web macros — pure string ops (no parse_url), so the
        // DuckDB oracle reproduces them byte-identically
        case "get_url_parameter" => nargs(2)
          val p = a(1)
          s"nullif(split_part(split_part(${a(0)}, '$p=', 2), '&', 1), '')"
        case "get_url_host" => nargs(1)
          val stripped = s"replace(replace(replace(${a(0)}, " +
            "'android-app://', ''), 'https://', ''), 'http://', '')"
          s"split_part(split_part($stripped, '?', 1), '/', 1)"
        case "get_url_path" => nargs(1)
          val noq = s"split_part(replace(replace(${a(0)}, " +
            "'https://', ''), 'http://', ''), '?', 1)"
          s"nullif(substr($noq, length(split_part($noq, '/', 1)) + 1), '')"
        // dbt-utils default__width_bucket (the floor form, not a native
        // function — identical arithmetic in both engines)
        case "width_bucket" => nargs(4)
          s"least(${a(3)}, floor((${a(0)} - ${a(1)}) / " +
            s"((${a(2)} - ${a(1)}) / ${a(3)})) + 1)"
        // dbt-utils generate_series: a derived table of
        // generated_number 1..n — use as FROM ({{ generate_series(n) }})
        case "generate_series" => nargs(1)
          val n = a(0).toIntOption.getOrElse(
            throw new IllegalArgumentException(
              s"generate_series: needs an integer upper bound, got '${a(0)}'"))
          require(n >= 1, s"generate_series($n): needs n >= 1")
          s"SELECT explode(sequence(1, $n)) AS generated_number"
      })
    })

  // dbt-utils `deduplicate(relation, partition_by=…, order_by=…)`:
  // keep the first row per partition under the ordering. Renders the
  // row_number subquery with Spark's `* EXCEPT` star (QUALIFY is not in
  // OSS Spark); the relation re-emits as its `{{ ref/source/this }}`
  // site, which the compile pass then resolves like any other.
  private[graft] val deduplicateRe: Regex =
    ("""(?s)\{\{\s*(?:dbt_utils\.)?deduplicate\(\s*""" +
      """(ref|source|this)(?:\(\s*'([^']+)'(?:\s*,\s*'([^']+)')?\s*\))?""" +
      """\s*,\s*partition_by\s*=\s*('[^']*'|"[^"]*")""" +
      """\s*,\s*order_by\s*=\s*('[^']*'|"[^"]*")\s*\)\s*\}\}""").r

  private def expandBuiltinSqlMacros(sql0: String): String = {
    var sql = unnestRe.replaceAllIn(sql0, m => Regex.quoteReplacement(
      s" LATERAL VIEW explode(${m.group(1)}) ${m.group(2)}_t AS ${m.group(2)}"))
    sql = expandCrossDbMacros(sql)
    sql = deduplicateRe.replaceAllIn(sql, m => {
      val relTxt = m.group(1) match {
        case "this" => "{{ this }}"
        case k => Option(m.group(3)) match {
          case Some(t) => s"{{ $k('${m.group(2)}', '$t') }}"
          case None => s"{{ $k('${m.group(2)}') }}"
        }
      }
      Regex.quoteReplacement(
        s"(SELECT * EXCEPT(_graft_rn) FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY ${stripQuotes(m.group(4))} " +
          s"ORDER BY ${stripQuotes(m.group(5))}) AS _graft_rn " +
          s"FROM $relTxt) WHERE _graft_rn = 1)")
    })
    sql = surrogateKeyRe.replaceAllIn(sql, m => {
      val cols = parseListLiteral(m.group(1))
      require(cols.nonEmpty, "generate_surrogate_key needs at least one column")
      Regex.quoteReplacement("md5(concat_ws('-', " + cols.map(c =>
        s"coalesce(cast($c as string), '_dbt_utils_surrogate_key_null_')")
        .mkString(", ") + "))")
    })
    sql = dateSpineRe.replaceAllIn(sql, m => {
      val part = m.group(1).toLowerCase
      require(Set("day", "week", "month", "year").contains(part),
        s"date_spine: unsupported datepart '$part'")
      // over-generate with an INCLUSIVE sequence end, then filter
      // `< end` — dbt-utils emits every period strictly before end, and
      // generating to `end - 1 part` drops the final period whenever the
      // end date is not start + k*part aligned (a misaligned month spine
      // '2020-01-15'..'2020-03-01' must yield 01-15 AND 02-15)
      Regex.quoteReplacement(
        s"SELECT date_$part FROM (SELECT " +
          s"explode(sequence(CAST(${m.group(2)} AS DATE), " +
          s"CAST(${m.group(3)} AS DATE), " +
          s"INTERVAL '1' $part)) AS date_$part) " +
          s"WHERE date_$part < CAST(${m.group(3)} AS DATE)")
    })
    sql = safeCastRe.replaceAllIn(sql, m => Regex.quoteReplacement(
      s"TRY_CAST(${stripOneJinjaQuote(m.group(1))} AS ${m.group(2)})"))
    sql = dateaddRe.replaceAllIn(sql, m => {
      val part = m.group(1).toLowerCase
      require(DateParts.contains(part), s"dateadd: unknown datepart '$part'")
      Regex.quoteReplacement(s"timestampadd(${part.toUpperCase}, " +
        s"${m.group(2)}, ${stripOneJinjaQuote(m.group(3))})")
    })
    sql = datediffRe.replaceAllIn(sql, m => {
      // dbt's datediff contract is a BOUNDARY COUNT, not interval
      // truncation: datediff('month', Jan-31, Feb-01) = 1 because one
      // month boundary is crossed (Snowflake/BigQuery/DuckDB agree).
      // Each unit renders as a calendar-part difference, never a
      // divided day-span — a truncation would undercount every pair
      // that straddles a boundary by less than the unit.
      // dbt-core's signature puts the datepart LAST —
      // datediff(first_date, second_date, datepart); the
      // datepart-FIRST spelling (Snowflake/this repo pre-r13) is also
      // accepted. The datepart is recognized as the quoted unit
      // literal at either end.
      val args = splitArgs(m.group(1))
      require(args.length == 3,
        s"datediff: expected 3 arguments, got ${args.length} in (${m.group(1)})")
      def partOf(s: String): Option[String] = {
        val t = s.trim
        val quoted = (t.startsWith("'") && t.endsWith("'")) ||
          (t.startsWith("\"") && t.endsWith("\""))
        Option.when(quoted && DateParts.contains(stripQuotes(t).toLowerCase))(
          stripQuotes(t).toLowerCase)
      }
      val (part, a, b) = partOf(args(2)) match {
        case Some(p) =>
          (p, stripOneJinjaQuote(args(0)), stripOneJinjaQuote(args(1)))
        case None => partOf(args(0)) match {
          case Some(p) =>
            (p, stripOneJinjaQuote(args(1)), stripOneJinjaQuote(args(2)))
          case None => throw new IllegalArgumentException(
            s"datediff: no datepart literal at either end of (${m.group(1)})")
        }
      }
      val rendered = part match {
        case "day" => s"datediff($b, $a)"
        case "month" => s"((year($b) - year($a)) * 12 + (month($b) - month($a)))"
        case "quarter" => s"((year($b) - year($a)) * 4 + (quarter($b) - quarter($a)))"
        case "year" => s"(year($b) - year($a))"
        // weeks partition at ISO Monday (Spark date_trunc('week') and
        // DuckDB's week boundary agree); week-aligned day diff / 7 is exact
        case "week" =>
          s"CAST(datediff(date_trunc('week', $b), date_trunc('week', $a)) / 7 AS INT)"
        case "hour" =>
          s"CAST((unix_timestamp(date_trunc('hour', $b)) - " +
            s"unix_timestamp(date_trunc('hour', $a))) / 3600 AS BIGINT)"
        case "minute" =>
          s"CAST((unix_timestamp(date_trunc('minute', $b)) - " +
            s"unix_timestamp(date_trunc('minute', $a))) / 60 AS BIGINT)"
        case "second" =>
          s"(unix_timestamp($b) - unix_timestamp($a))"
        case other => throw new IllegalArgumentException(
          s"datediff: unknown datepart '$other'")
      }
      Regex.quoteReplacement(rendered)
    })
    lastDayRe.replaceAllIn(sql, m => {
      require(m.group(2).equalsIgnoreCase("month"),
        s"last_day: only 'month' supported, got '${m.group(2)}'")
      Regex.quoteReplacement(
        s"last_day(${stripOneJinjaQuote(m.group(1))})")
    })
  }

  // dbt macro args are JINJA strings spliced verbatim — 'col' and "col"
  // both mean the bare text `col`; a SQL string literal is double-
  // wrapped ("'lit'"). Strip exactly one level of either quote style.
  private def stripOneJinjaQuote(s0: String): String = stripQuotes(s0.trim)

  /** Inline `config(key=value, …)` overrides (reference `config()` context
    * fn; values are literal strings/idents/numbers — the subset dbt models
    * use in-file).
    */
  def parseInlineConfig(rawSql: String, base: ModelConfig): ModelConfig = {
    val cfg = applyConfigKv(inlineConfigKvs(rawSql), base)
    // dbt adds the tags of every config level together; other keys of
    // the in-file config() replace the YAML's
    cfg.copy(tags = base.tags ++ cfg.tags)
  }

  // dbt accepts both spellings in config()/yml (`pre_hook` in-file,
  // `pre-hook` in dbt_project.yml trees)
  private[graft] val hookKeys =
    Set("pre_hook", "post_hook", "pre-hook", "post-hook")
  // multi-hook separator inside a config kv value: \u001f can never
  // appear in SQL text, unlike `|` (concat) or `,`
  private[graft] val HookSep = "\u001f"

  /** Apply a parsed config key/value map onto a base [[ModelConfig]] —
    * shared by [[parseInlineConfig]] and the dbt-native project loader
    * (dbt_project.yml `+materialized:` trees, schema.yml `config:`
    * blocks), so every config source obeys identical key semantics.
    */
  def applyConfigKv(kvs: Map[String, String],
                    base: ModelConfig): ModelConfig = {
        var cfg = base
        kvs.get("materialized").foreach(v => cfg = cfg.copy(materialized = v))
        // `|`-separated (a comma would split the kv scan above), matching
        // check_cols' convention
        kvs.get("tags").foreach(v => cfg = cfg.copy(tags =
          v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty).toSet))
        kvs.get("unique_key").foreach(v => cfg = cfg.copy(uniqueKey = Seq(v)))
        kvs.get("partition_by").foreach(v => cfg = cfg.copy(partitionBy =
          v.split(",").map(_.trim).filter(_.nonEmpty).toIndexedSeq))
        // `|`-separated like tags (a comma would split the kv scan);
        // entries may be `start..end` day ranges (reference
        // partition_range @151173)
        kvs.get("partitions").foreach(v => cfg = cfg.copy(partitions =
          v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty).toIndexedSeq))
        // `|`-separated predicates (commas would split the kv scan)
        kvs.get("incremental_predicates").foreach(v =>
          cfg = cfg.copy(incrementalPredicates =
            v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty).toIndexedSeq))
        // model contract: `contract='col1:int|col2:string'` (dbt 1.5
        // columns+data_type) and `not_null='col1|col2'` constraints
        kvs.get("contract").foreach(v => cfg = cfg.copy(contract =
          v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty).map { c =>
            c.split(":", 2) match {
              case Array(n, t) => n.trim -> t.trim
              case _ => throw new IllegalArgumentException(
                s"contract entry '$c' must be 'column:type'")
            }
          }.toIndexedSeq))
        kvs.get("not_null").foreach(v => cfg = cfg.copy(notNull =
          v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty).toIndexedSeq))
        kvs.get("persist_docs").foreach(v =>
          cfg = cfg.copy(persistDocs = v == "true"))
        // BigQuery TTLs (reference bigquery_options @15210) — positive
        // numbers only, loud on anything else (a silently-dropped TTL is
        // unbounded storage growth)
        def ttl(key: String, v: String): Double =
          v.toDoubleOption.filter(_ > 0).getOrElse(
            throw new IllegalArgumentException(
              s"$key expects a positive number, got '$v'"))
        kvs.get("hours_to_expiration").foreach(v =>
          cfg = cfg.copy(hoursToExpiration = Some(ttl("hours_to_expiration", v))))
        kvs.get("partition_expiration_days").foreach(v =>
          cfg = cfg.copy(partitionExpirationDays =
            Some(ttl("partition_expiration_days", v))))
        // BigQuery labels (reference bigquery_options @15210):
        // 'key:value' entries, `|`-separated like contract (a comma
        // would split the kv scan). Inert metadata in a path warehouse,
        // but carried — a malformed entry fails loudly, never drops
        kvs.get("labels").foreach { v =>
          val parsed = v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty)
            .map { l =>
              l.split(":", 2) match {
                case Array(k, lv) if k.trim.nonEmpty =>
                  k.trim.toLowerCase -> lv.trim
                case _ => throw new IllegalArgumentException(
                  s"labels entry '$l' must be 'key:value'")
              }
            }.toIndexedSeq
          // declared-but-empty is a drop, not an unset — same policy as
          // kms_key_name below
          require(parsed.nonEmpty, "labels expects at least one 'key:value'")
          // last wins on duplicate keys, matching BigQuery's map shape
          cfg = cfg.copy(labels =
            parsed.map(_._1).distinct.map(k => k -> parsed.filter(_._1 == k)
              .last._2))
        }
        kvs.get("kms_key_name").foreach { v =>
          // an empty key (e.g. an env_var expanding blank) is a DECLARED
          // but broken encryption key — refuse, don't silently unset
          require(v.trim.nonEmpty,
            "kms_key_name expects a non-empty key resource name")
          cfg = cfg.copy(kmsKeyName = Some(v.trim))
        }
        // grants: 'privilege:grantee[,grantee…]' entries, `|`-separated
        // like contract (a comma would split the kv scan)
        kvs.get("grants").foreach { v =>
          val parsed = v.split("\\|").iterator.map(_.trim).filter(_.nonEmpty)
            .map { g =>
              g.split(":", 2) match {
                case Array(p, gs) =>
                  val grantees = gs.split(",").iterator.map(_.trim)
                    .filter(_.nonEmpty).toIndexedSeq
                  // a whitespace/comma-only grantee list must fail HERE,
                  // not parse "loudly OK" and then emit zero GRANTs
                  if (grantees.isEmpty) throw new IllegalArgumentException(
                    s"grants entry '$g' must be 'privilege:grantee[,grantee…]'")
                  p.trim.toLowerCase -> grantees
                case _ => throw new IllegalArgumentException(
                  s"grants entry '$g' must be 'privilege:grantee[,grantee…]'")
              }
            }.toIndexedSeq
          // merge duplicate privilege keys ('select:a|select:b'): the dbt
          // manifest renders grants as a JSON object, where duplicate keys
          // silently lose all but the last entry's grantees
          val merged = parsed.map(_._1).distinct.map(p =>
            p -> parsed.filter(_._1 == p).flatMap(_._2).distinct)
          cfg = cfg.copy(grants = merged)
        }
        kvs.get("group").foreach(v => cfg = cfg.copy(group = v))
        kvs.get("access").foreach { v =>
          require(Set("private", "protected", "public").contains(v),
            s"access must be private|protected|public, got '$v'")
          cfg = cfg.copy(access = v)
        }
        kvs.get("incremental_strategy").foreach { v =>
          import graft.core.IncrementalStrategy._
          cfg = cfg.copy(incrementalStrategy = v match {
            case "insert_overwrite" => InsertOverwrite
            case "delete+insert" => DeleteInsert
            case "microbatch" => Microbatch
            case _ => Merge
          })
        }
        // model-level hooks (dbt pre_hook/post_hook; the dash spellings
        // are dbt_project.yml's). Multi-hook values arrive HookSep-joined
        // (HookSep) — both loaders encode lists that way because hook
        // SQL can contain any printable separator
        def hooks(keys: String*): Option[Seq[String]] =
          keys.iterator.flatMap(kvs.get).nextOption().map(
            _.split(HookSep).iterator.map(_.trim).filter(_.nonEmpty).toSeq)
        hooks("pre_hook", "pre-hook").foreach(v => cfg = cfg.copy(preHooks = v))
        hooks("post_hook", "post-hook").foreach(v =>
          cfg = cfg.copy(postHooks = v))
        // dbt 1.9 microbatch knobs
        kvs.get("event_time").foreach(v => cfg = cfg.copy(eventTime = v))
        kvs.get("batch_size").foreach { v =>
          require(Set("hour", "day", "month", "year").contains(v),
            s"batch_size must be hour|day|month|year, got '$v'")
          cfg = cfg.copy(batchSize = v)
        }
        kvs.get("lookback").foreach(v => cfg = cfg.copy(lookback = v.toInt))
        kvs.get("begin").foreach(v => cfg = cfg.copy(begin = v))
        // reference bigquery_options @15210; strict true|false like the
        // loader-side parsers — any other spelling must not silently
        // drop a declared safety guard
        kvs.get("require_partition_filter").foreach(v =>
          cfg = cfg.copy(requirePartitionFilter = v.toLowerCase match {
            case "true" => true
            case "false" => false
            case other => throw new IllegalArgumentException(
              s"require_partition_filter expects true|false, got '$other'")
          }))
        kvs.get("sql_header").foreach(v =>
          cfg = cfg.copy(sqlHeader = Some(v).filter(_.trim.nonEmpty)))
        cfg
  }

  final case class ResolveCtx(
      refTarget: String => String,      // model name → SQL relation text
      sourceTarget: (String, String) => String,
      // dbt mesh: (project, model) → SQL relation text; default throws —
      // a cross-project ref without a registered dependency is a config
      // error, never a silent local resolution
      crossRefTarget: (String, String) => String = (p, m) =>
        throw new IllegalArgumentException(
          s"cross-project ref('$p', '$m') has no registered dependency"),
      thisTarget: String,               // the model's own relation text
      // `this.database/schema/identifier` coordinate values (dbt's
      // Relation attributes; name/table alias identifier). Empty map →
      // any this.<attr> site fails loudly naming the context.
      thisVals: Map[String, String] = Map.empty,
      env: Map[String, String],
      isIncremental: Boolean,
      // project vars (dbt_project.yml `vars:` merged under any --vars
      // override); an unset var with no default throws like env_var
      vars: Map[String, String] = Map.empty,
      // dbt `target` object values for {{ target.<key> }} sites —
      // typically name/schema/database; an unreferenced key is free, a
      // referenced-but-absent one throws (like env_var)
      targetVals: Map[String, String] = Map.empty,
      // `_dbt_max_partition` (reference bq_insert_overwrite @34992): the
      // target's current max partition value as a pre-rendered SQL literal,
      // substituted into the compiled text so Catalyst sees a constant and
      // can prune the source scan. None outside incremental runs → NULL
      // (harmless: references live inside is_incremental() blocks).
      maxPartition: Option[String] = None,
      // run_query bindings, pre-executed by the ENGINE
      // ([[resolveRunQueries]]) — consumed by the control-flow subset
      queryResults: Map[String, QueryResult] = Map.empty,
      // dbt run context: one UUID per engine invocation and the run's
      // start instant ({{ invocation_id }}, {{ run_started_at }} +
      // .strftime subset) — the audit-column idiom. None → a reference
      // fails loudly naming the missing context.
      invocationId: Option[String] = None,
      runStartedAt: Option[java.time.Instant] = None)

  /** Resolve `{% if is_incremental() %}…{% else %}…{% endif %}` blocks
    * to the taken branch. Public (also) so the ENGINE can decide these
    * branches BEFORE executing run_query probes — dbt's Jinja is lazy:
    * a probe inside a non-taken branch never runs (e.g. the canonical
    * `select max(ts) from {{ this }}` guard on a full-refresh build,
    * where `this` does not exist yet). Idempotent: [[compile]] re-applies
    * it and finds nothing.
    */
  def resolveIncrementalBlocks(sql: String, isIncremental: Boolean): String =
    if (!sql.contains("is_incremental")) sql
    else resolveGuardBlocks(sql, _ == "is_incremental()",
      keepThen = isIncremental, what = "{% if is_incremental() %}")

  /** Balanced-depth resolution of every `{% if <head> %}…[{% else %}…]
    * {% endif %}` block whose head condition `matches` — the taken arm
    * replaces the whole block. The body routinely contains its own
    * if/endif pairs, so the matching endif is found by DEPTH, never by
    * first occurrence (a non-greedy regex would split a nested body at
    * the wrong endif and corrupt both arms).
    */
  private def resolveGuardBlocks(sql: String, matches: String => Boolean,
      keepThen: Boolean, what: String): String =
    resolveGuardBlocksBy(sql,
      (c, _, _) => if (matches(c)) Some(keepThen) else None, what,
      skipElifBlocks = false)

  // decide receives (condition, if-head start offset, current document)
  // so position-sensitive deciders ({% set %} substitution) can refuse
  // bindings that do not textually precede the condition — Jinja is
  // sequential, a later set has no value at the if.
  private def resolveGuardBlocksBy(sql: String,
      decide: (String, Int, String) => Option[Boolean], what: String,
      skipElifBlocks: Boolean): String = {
    var s = sql
    var again = true
    while (again) {
      again = false
      val tags = ifTagRe.findAllMatchIn(s).toVector
      // the first decidable if-head whose block is processable (a
      // depth-0 elif makes the block a chain — refused or left for the
      // elif rewrite, per skipElifBlocks)
      tags.iterator
        .filter(t => t.group(1) == "if" &&
          decide(t.group(2).trim, t.start, s).isDefined)
        .map { head =>
          var depth = 0
          var elsePos: Option[(Int, Int)] = None // (start, end) of else tag
          var elifChain = false
          var endTag: Option[Regex.Match] = None
          tags.dropWhile(_.start <= head.start).foreach { t =>
            if (endTag.isEmpty) t.group(1) match {
              case "if" => depth += 1
              case "endif" if depth == 0 => endTag = Some(t)
              case "endif" => depth -= 1
              case "else" if depth == 0 => elsePos = Some((t.start, t.end))
              case "elif" if depth == 0 =>
                if (skipElifBlocks) elifChain = true
                else throw new IllegalArgumentException(
                  s"{% elif %} directly on an $what block is " +
                    "unsupported — nest the condition inside an arm")
              case _ => ()
            }
          }
          (head, elsePos, elifChain, endTag)
        }
        .find(!_._3)
        .foreach { case (head, elsePos, _, endTag) =>
          val end = endTag.getOrElse(throw new IllegalArgumentException(
            s"unbalanced $what: no matching {% endif %}"))
          val kept =
            if (decide(head.group(2).trim, head.start, s).contains(true))
              elsePos.map { case (st, _) => s.substring(head.end, st) }
                .getOrElse(s.substring(head.end, end.start))
            else elsePos.map { case (_, e) => s.substring(e, end.start) }
              .getOrElse(" ")
          s = s.substring(0, head.start) + kept + s.substring(end.end)
          again = true
        }
    }
    s
  }

  // bare `var('n'[, default])` / `env_var('N'[, default])` calls INSIDE
  // `{% %}` statements (set RHS, if conditions, for filters) — the
  // braces forms resolve later in [[compile]]; these statement-position
  // calls must become literals BEFORE control-flow expansion or they
  // leak. Values splice like Jinja: numbers/bools/lists bare, strings
  // quoted (a value containing a quote fails loudly).
  private val bareVarCallRe: Regex =
    """\b(env_var|var)\(\s*'([^']+)'(?:\s*,\s*('[^']*'|[^()]*?))?\s*\)""".r
  // (?s): a {% %} statement routinely spans lines (multi-line set RHS,
  // wrapped if conditions) — without DOTALL those spans never match and
  // their var() calls leak to the SQL parser as cryptic failures
  private val stmtSpanRe: Regex = """(?s)\{%-?(?:(?!-?%\}).)*?-?%\}""".r

  private def varLiteral(raw: String, what: String): String = {
    if (raw.matches("""-?\d+(\.\d+)?""") || raw == "true" ||
        raw == "false" || raw.startsWith("[")) raw
    else {
      require(!raw.contains("'"),
        s"$what value containing a quote cannot splice into a " +
          s"statement: $raw")
      s"'$raw'"
    }
  }

  private def substVarCallsInStmt(stmt: String, vars: Map[String, String],
      env: Map[String, String]): String =
    // the call shape (`var('` + quoted name) cannot match plain text
    // inside an unrelated quoted literal, so a direct scan is safe
    bareVarCallRe.replaceAllIn(stmt, m => {
      val (kind, name) = (m.group(1), m.group(2))
      val pool = if (kind == "env_var") env else vars
      val v = pool.get(name).orElse(
        Option(m.group(3)).map(_.trim).filter(_.nonEmpty).map(stripQuotes))
        .getOrElse(throw new IllegalArgumentException(
          s"$kind '$name' unset, no default"))
      Regex.quoteReplacement(varLiteral(v, kind))
    })

  /** Resolve bare var()/env_var() calls inside `{% %}` statements to
    * literals (the `{% set x = var('n') %}` / `{% if var('flag') %}`
    * idioms). Runs in [[compile]] before control-flow expansion.
    */
  private[graft] def resolveStatementVars(sql: String,
      vars: Map[String, String], env: Map[String, String]): String =
    if (!sql.contains("var(")) sql
    else stmtSpanRe.replaceAllIn(sql, m =>
      if (!m.matched.contains("var(")) Regex.quoteReplacement(m.matched)
      else Regex.quoteReplacement(substVarCallsInStmt(m.matched, vars, env)))

  /** Decide statically-decidable generic `{% if %}` blocks — scalar
    * `{% set %}` literals (and var()/env_var() calls, when `vars`/`env`
    * are provided) substituted into conditions for DECISION only (the
    * set statements stay in place for the later control-flow pass). The
    * ENGINE runs this BEFORE executing statement/run_query probes:
    * Jinja is lazy, so a probe (or DML statement) inside a branch
    * pruned by a set-literal or var condition must never execute.
    * Undecidable conditions, elif chains, and loop-variable conditions
    * stay for [[expandControlFlow]].
    */
  def resolveStaticIfBlocks(sql0: String,
      vars: Map[String, String] = Map.empty,
      env: Map[String, String] = Map.empty): String = {
    if (!sql0.contains("{%")) return sql0
    // Jinja is sequential and branch-lazy: a binding participates in
    // the decision only when its set statement (a) textually precedes
    // the if and (b) sits at if-nesting depth 0 — a set inside an
    // untaken branch would not exist at the if. A name bound more
    // than once in the document is refused outright (which binding is
    // live depends on control flow this static pass cannot see):
    // leaving it unsubstituted makes evalCond return None, deferring
    // the block to the full control-flow expansion.
    //
    // The document scans (set sites, if-tag depths) depend only on the
    // document text, which is stable across ALL the decide() calls of
    // one resolveGuardBlocksBy round — memoize by string identity, or a
    // model with many if blocks pays O(blocks²) full-document rescans.
    final case class DocScan(doc: String,
        binds: Vector[(Int, Int, String, String, Int)]) // start,end,name,value,depth
    var cached: DocScan = null
    def scan(doc: String): DocScan = {
      if (cached != null && (cached.doc eq doc)) return cached
      val setMs = setRe.findAllMatchIn(doc).toVector
      val dups = setMs.groupBy(_.group(1)).collect {
        case (n, ms) if ms.size > 1 => n }.toSet
      val ifTags = ifTagRe.findAllMatchIn(doc).toVector
      def depthAt(pos: Int): Int =
        ifTags.takeWhile(_.start < pos).foldLeft(0) { (d, t) =>
          t.group(1) match {
            case "if" => d + 1
            case "endif" => math.max(0, d - 1)
            case _ => d
          }
        }
      cached = DocScan(doc, setMs.filterNot(m => dups(m.group(1)))
        .map(m => (m.start, m.end, m.group(1), m.group(2), depthAt(m.start))))
      cached
    }
    def decide(cond0: String, ifStart: Int, doc: String): Option[Boolean] = {
      var cond = cond0
      if (cond.contains("var("))
        cond = try substVarCallsInStmt(cond, vars, env)
          catch { case _: IllegalArgumentException => return None }
      scan(doc).binds
        .filter { case (_, end, _, _, depth) => end <= ifStart && depth == 0 }
        .foreach { case (_, _, name, value, _) =>
          cond = ("""\b""" + Regex.quote(name) + """\b""").r
            .replaceAllIn(cond, Regex.quoteReplacement(value))
        }
      evalCond(cond)
    }
    resolveGuardBlocksBy(sql0, decide, "{% if %}", skipElifBlocks = true)
  }

  /** Resolve `{% if execute %}…{% else %}…{% endif %}` blocks for a
    * given phase — dbt renders twice: parse (execute=false, `run_query`
    * returns none) and execute (true). Build-mode rendering keeps the
    * blocks (evalCond resolves the bare flag open); the compile-artifact
    * path calls this with `execute = false` BEFORE run_query probe
    * scanning, so a guarded probe is dead text and a not-yet-built
    * upstream is never queried — dbt's lazy-Jinja contract (reference
    * `statement` @21499 no-ops when `execute` is falsy). A BALANCED
    * walk, not a non-greedy regex: the guarded body routinely contains
    * its own `{% if %}`/`{% endif %}` pairs (the probe-loop idiom), so
    * the matching endif must be found by depth, not by first occurrence.
    */
  def resolveExecuteBlocks(sql: String, execute: Boolean): String =
    if (execute) sql
    else resolveGuardBlocks(sql, _ == "execute",
      keepThen = false, what = "{% if execute %}")

  // --------------------------------- relation-existence introspection
  // dbt's `load_relation(ref('x'))` / `adapter.get_relation(...)` — 121
  // sites across the reference manifest's macro bodies; the everyday
  // existence guard is `{% if load_relation(this) is not none %}`.
  // Supported subset: the relation argument is `this`, `ref()`,
  // `source()`, or the kwargs form (`identifier='name'` with optional
  // database=/schema= — the engine's warehouse is a single namespace);
  // the bound value is consumed by `is [not] none` tests or `{{ rel }}`
  // interpolation. Holding the relation OBJECT (`.schema`, `.include()`)
  // is out of scope and fails loudly downstream.
  private val relExistCondRe: Regex =
    ("""(?:load_relation|adapter\.get_relation)\(\s*""" +
      """(this|ref\('[^']+'\)|source\('[^']+'\s*,\s*'[^']+'\)|""" +
      """[^()]*identifier[^()]*)\s*\)\s+is\s+(not\s+)?none""").r
  // the argument may itself contain one paren nesting level —
  // load_relation(ref('m')) / get_relation(source('a', 'b')) — so the
  // group admits balanced inner parens, not just paren-free text
  private val getRelSetRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*""" +
      """(?:adapter\.get_relation|load_relation)""" +
      """\(((?:[^()]|\([^()]*\))*)\)\s*-?%\}""").r
  private val identifierKwRe: Regex =
    """identifier\s*=\s*'([^']+)'""".r

  /** True iff the text has any load_relation / adapter.get_relation
    * site (Engine uses this to skip the resolution pass wholesale).
    */
  def hasRelationLookups(sql: String): Boolean =
    sql.contains("load_relation") || sql.contains("adapter.get_relation")

  // `{% set cols = adapter.get_columns_in_relation(ref('m')) %}` — 23
  // sites in the reference manifest's macros; the column-introspection
  // loop idiom (`{% for c in cols %}{{ c.name }}…`). Binds a
  // QueryResult with columns (name, dtype) so the existing row-iteration
  // machinery serves `c.name` / `c.dtype` / `c['name']` accessors.
  private val getColsInRelRe: Regex =
    ("""\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*""" +
      """adapter\.get_columns_in_relation\(\s*""" +
      """(this|ref\('[^']+'\)|source\('[^']+'\s*,\s*'[^']+'\))""" +
      """\s*\)\s*-?%\}""").r

  /** Strip every `{% set x = adapter.get_columns_in_relation(...) %}`
    * statement, binding the relation's (column name, DDL type) pairs as
    * a QueryResult the control-flow subset iterates. `fetch` is the
    * ENGINE's schema lookup (parse phase passes one returning empty —
    * dbt's get_columns_in_relation returns [] when execute is false).
    */
  def resolveGetColumns(sql: String,
      fetch: (String, String, Option[String]) => Seq[(String, String)])
      : (String, Map[String, QueryResult]) = {
    val binds = scala.collection.mutable.Map.empty[String, QueryResult]
    val out = getColsInRelRe.replaceAllIn(sql, m => {
      val (k, a, b) = m.group(2) match {
        case "this" => ("this", "", None)
        case relCallRe(kind, x, y) => (kind, x, Option(y))
      }
      binds(m.group(1)) = QueryResult(IndexedSeq("name", "dtype"),
        fetch(k, a, b).toIndexedSeq.map(c => IndexedSeq(c._1, c._2)))
      ""
    })
    (out, binds.toMap)
  }

  /** Resolve relation-existence introspection BEFORE control flow:
    * `lookup(kind, name, table)` returns the relation's SQL text if it
    * exists in the warehouse, None otherwise (kind is `this` | `ref` |
    * `source`; dbt's parse phase passes a lookup that is always None).
    * Both the direct condition form and the `{% set rel = ... %}`
    * binding resolve; `is [not] none` tests on a binding become literal
    * true/false and `{{ rel }}` sites splice the relation text.
    */
  def resolveRelationLookups(sql0: String,
      lookup: (String, String, Option[String]) => Option[String]): String = {
    def parseArg(arg0: String): (String, String, Option[String]) = {
      val arg = arg0.trim
      arg match {
        case "this" => ("this", "", None)
        case relCallRe(kind, a, b) => (kind, a, Option(b))
        case kw if kw.contains("identifier") =>
          val id = identifierKwRe.findFirstMatchIn(kw).map(_.group(1))
            .getOrElse(throw new IllegalArgumentException(
              s"get_relation kwargs without a quoted identifier: $arg"))
          ("ref", id, None)
        case other => throw new IllegalArgumentException(
          s"load_relation/get_relation: unsupported argument '$other' — " +
            "use this, ref(), source(), or identifier='name' kwargs")
      }
    }
    // direct condition form first (no binding involved)
    var sql = relExistCondRe.replaceAllIn(sql0, m => {
      val (k, a, b) = parseArg(m.group(1))
      val defined = lookup(k, a, b).isDefined
      val wantNot = m.group(2) != null // `is not none`
      if (defined == wantNot) "true" else "false"
    })
    // {% set rel = adapter.get_relation(...) %} bindings
    val binds = Seq.newBuilder[(String, Option[String])]
    sql = getRelSetRe.replaceAllIn(sql, m => {
      val (k, a, b) = parseArg(m.group(2))
      binds += m.group(1) -> lookup(k, a, b)
      ""
    })
    binds.result().foreach { case (name, rel) =>
      val condRe =
        ("""\b""" + Regex.quote(name) + """\b\s+is\s+(not\s+)?none""").r
      sql = condRe.replaceAllIn(sql, m => {
        val wantNot = m.group(1) != null
        if (rel.isDefined == wantNot) "true" else "false"
      })
      // splice only when the relation exists: a `{{ rel }}` inside a
      // `{% if rel is not none %}` arm that just resolved false is DEAD
      // text evalIfs prunes later — throwing here would misfire on it.
      // A none-relation site that survives to a LIVE branch reaches the
      // SQL parser as literal jinja and fails loudly there.
      rel.foreach { text =>
        val interpRe =
          ("""\{\{\s*""" + Regex.quote(name) + """\s*\}\}""").r
        sql = interpRe.replaceAllIn(sql, Regex.quoteReplacement(text))
      }
    }
    sql
  }

  /** Render raw model SQL to executable Spark SQL (SURVEY §3.1 step 2). */
  def compile(rawSql: String, ctx: ResolveCtx): String = {
    var sql = configRe.replaceAllIn(
      protectRawAndStripComments(rawSql), "")
    sql = resolveIncrementalBlocks(sql, ctx.isIncremental)
    // statement-position var()/env_var() calls become literals BEFORE
    // control flow ({% set x = var('n') %}, {% if var('flag') %})
    sql = resolveStatementVars(sql, ctx.vars, ctx.env)
    sql = expandControlFlow(sql, tables = ctx.queryResults)
    // statement calls AFTER control flow: a raise/log/do inside a
    // non-taken branch must never fire (Jinja is lazy)
    sql = resolveStatementCalls(sql)
    // after control flow, so loop-generated builtin calls resolve too
    sql = expandBuiltinSqlMacros(sql)
    sql = refXRe.replaceAllIn(sql,
      m => Regex.quoteReplacement(ctx.crossRefTarget(m.group(1), m.group(2))))
    sql = refRe.replaceAllIn(sql,
      m => Regex.quoteReplacement(ctx.refTarget(m.group(1))))
    sql = sourceRe.replaceAllIn(sql,
      m => Regex.quoteReplacement(ctx.sourceTarget(m.group(1), m.group(2))))
    sql = envVarRe.replaceAllIn(sql, m =>
      Regex.quoteReplacement(ctx.env.getOrElse(m.group(1),
        Option(m.group(2)).getOrElse(
          throw new IllegalArgumentException(s"env_var ${m.group(1)} unset, no default")))))
    sql = varRe.replaceAllIn(sql, m =>
      Regex.quoteReplacement(ctx.vars.getOrElse(m.group(1), {
        val d = Option(m.group(2)).map(_.trim).filter(_.nonEmpty)
        d.map(v => if (v.startsWith("'") && v.endsWith("'") && v.length >= 2)
            v.substring(1, v.length - 1) else v)
          .getOrElse(throw new IllegalArgumentException(
            s"var '${m.group(1)}' unset, no default"))
      })))
    sql = thisAttrRe.replaceAllIn(sql, m => {
      val key = m.group(1) match {
        case "name" | "table" => "identifier" // dbt aliases
        case k => k
      }
      Regex.quoteReplacement(ctx.thisVals.getOrElse(key,
        throw new IllegalArgumentException(
          s"this.${m.group(1)} has no value in this context " +
            s"(available: ${ctx.thisVals.keys.toSeq.sorted.mkString(", ")})")))
    })
    sql = adapterQuoteRe.replaceAllIn(sql,
      m => Regex.quoteReplacement("`" + m.group(1) + "`"))
    sql = thisRe.replaceAllIn(sql, Regex.quoteReplacement(ctx.thisTarget))
    sql = targetRe.replaceAllIn(sql, m =>
      Regex.quoteReplacement(ctx.targetVals.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"target.${m.group(1)} is not defined " +
            s"(available: ${ctx.targetVals.keys.toSeq.sorted.mkString(", ")})"))))
    sql = maxPartRe.replaceAllIn(sql,
      Regex.quoteReplacement(ctx.maxPartition.getOrElse("NULL")))
    sql = invocationIdRe.replaceAllIn(sql, _ => Regex.quoteReplacement(
      ctx.invocationId.getOrElse(throw new IllegalArgumentException(
        "invocation_id is unavailable in this context"))))
    sql = runStartedAtRe.replaceAllIn(sql, m => {
      val inst = ctx.runStartedAt.getOrElse(throw new IllegalArgumentException(
        "run_started_at is unavailable in this context"))
      Regex.quoteReplacement(Option(m.group(1)) match {
        case Some(fmt) => strftime(inst, fmt)
        // bare render: dbt's str(datetime) shape at seconds precision
        case None => strftime(inst, "%Y-%m-%d %H:%M:%S") + "+00:00"
      })
    })
    restoreRaw(sql).trim
  }

  // Jinja comments (`{# … #}`) strip at parse, and `{% raw %}…{%
  // endraw %}` bodies pass through VERBATIM — protected from every
  // rewrite pass as a self-contained hex token (stateless: the token
  // IS the payload), decoded as [[compile]]'s last step. A ref() inside
  // a comment or raw block is therefore never a dependency — dbt
  // parity.
  private val rawBlockRe: Regex =
    """(?s)\{%-?\s*raw\s*-?%\}(.*?)\{%-?\s*endraw\s*-?%\}""".r
  private val commentRe: Regex = """(?s)\{#.*?#\}""".r
  private val rawTokenRe: Regex = """__GRAFT_RAW_([0-9a-f]*)__""".r

  private[graft] def protectRawAndStripComments(sql: String): String = {
    val s1 =
      if (!sql.contains("raw")) sql
      else rawBlockRe.replaceAllIn(sql, m => Regex.quoteReplacement(
        "__GRAFT_RAW_" + m.group(1).getBytes("UTF-8")
          .map("%02x".format(_)).mkString + "__"))
    if (s1.contains("{#")) commentRe.replaceAllIn(s1, "") else s1
  }

  private def restoreRaw(sql: String): String =
    if (!sql.contains("__GRAFT_RAW_")) sql
    else rawTokenRe.replaceAllIn(sql, m => Regex.quoteReplacement(
      new String(m.group(1).grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")))

  // dbt run-context variables: {{ invocation_id }} (one UUID per
  // engine invocation) and {{ run_started_at }} with the everyday
  // strftime subset — the audit-column idiom of ported models
  private val invocationIdRe: Regex = """\{\{\s*invocation_id\s*\}\}""".r
  private val runStartedAtRe: Regex =
    ("""\{\{\s*run_started_at""" +
      """(?:\.strftime\(\s*['"]([^'"]+)['"]\s*\))?\s*\}\}""").r

  /** Python-strftime subset over a UTC instant: %Y %m %d %H %M %S %%;
    * any other directive fails loudly.
    */
  private[graft] def strftime(i: java.time.Instant, fmt: String): String = {
    val z = i.atZone(java.time.ZoneOffset.UTC)
    val out = new StringBuilder
    var idx = 0
    while (idx < fmt.length) {
      val c = fmt.charAt(idx)
      if (c == '%' && idx + 1 < fmt.length) {
        fmt.charAt(idx + 1) match {
          case 'Y' => out.append(f"${z.getYear}%04d")
          case 'm' => out.append(f"${z.getMonthValue}%02d")
          case 'd' => out.append(f"${z.getDayOfMonth}%02d")
          case 'H' => out.append(f"${z.getHour}%02d")
          case 'M' => out.append(f"${z.getMinute}%02d")
          case 'S' => out.append(f"${z.getSecond}%02d")
          case '%' => out.append('%')
          case other => throw new IllegalArgumentException(
            s"run_started_at.strftime: unsupported directive '%$other' " +
              "(supported: %Y %m %d %H %M %S)")
        }
        idx += 2
      } else { out.append(c); idx += 1 }
    }
    out.result()
  }

  // dbt statement-call surface (counts from the reference manifest's
  // macro bodies): `return(…)` 90×, `{% do … %}` 79×,
  // `exceptions.raise_compiler_error` 12×, `log(…)` 12×. One balanced
  // argument span: bare chars, quoted strings, or one paren nesting
  // level (`return(round(c, 2))`) — deeper nesting passes through for
  // the SQL parser to reject loudly.
  private val argSpan = """((?:[^()']|'[^']*'|\([^()]*\))*)"""
  private val returnRe: Regex =
    ("""\{\{\s*return\(\s*""" + argSpan + """\s*\)\s*\}\}|""" +
      """\{%-?\s*do\s+return\(\s*""" + argSpan + """\s*\)\s*-?%\}""").r
  private val logRe: Regex =
    ("""\{\{\s*log\(\s*""" + argSpan + """\s*\)\s*\}\}|""" +
      """\{%-?\s*do\s+log\(\s*""" + argSpan + """\s*\)\s*-?%\}""").r
  private val raiseRe: Regex =
    ("""\{\{\s*exceptions\.raise_compiler_error\(\s*""" + argSpan +
      """\s*\)\s*\}\}|\{%-?\s*do\s+exceptions\.raise_compiler_error\(\s*""" +
      argSpan + """\s*\)\s*-?%\}""").r
  private val doStmtRe: Regex =
    """(?s)\{%-?\s*do\s+(.*?)\s*-?%\}""".r

  /** Resolve dbt's statement-call surface after control flow has picked
    * branches (Jinja is lazy — a raise inside a dead branch never
    * fires): `exceptions.raise_compiler_error('msg')` throws with the
    * message; `log('msg'[, info=true])` renders empty (the message goes
    * to stderr — the engine has no dbt logger); `return(expr)` splices
    * its argument — macros here are textual, so returning a quoted
    * string yields its content and returning an expression yields its
    * SQL text; any OTHER `{% do %}` fails loudly (Python side effects
    * like list.append are out of scope by design).
    */
  private[graft] def resolveStatementCalls(sql0: String): String = {
    var sql = sql0
    if (sql.contains("raise_compiler_error"))
      raiseRe.findFirstMatchIn(sql).foreach { m =>
        val arg = Option(m.group(1)).getOrElse(m.group(2))
        throw new IllegalArgumentException(
          s"compiler error (exceptions.raise_compiler_error): " +
            stripQuotes(arg.trim))
      }
    if (sql.contains("log("))
      sql = logRe.replaceAllIn(sql, m => {
        val arg = Option(m.group(1)).getOrElse(m.group(2)).trim
        // first positional arg is the message; ignore info=/dbt kwargs
        val msg = splitArgs(arg).headOption.map(a => stripQuotes(a.trim))
          .getOrElse("")
        System.err.println(s"[graft:log] $msg")
        ""
      })
    if (sql.contains("return("))
      sql = returnRe.replaceAllIn(sql, m => {
        val arg = Option(m.group(1)).getOrElse(m.group(2)).trim
        Regex.quoteReplacement(stripQuotes(arg))
      })
    doStmtRe.findFirstMatchIn(sql).foreach { m =>
      throw new IllegalArgumentException(
        s"unsupported {% do ${m.group(1).take(60)} %} — only do " +
          "return(...)/log(...)/exceptions.raise_compiler_error(...) " +
          "resolve (Python side effects are out of scope)")
    }
    sql
  }

  /** Whether raw model SQL references `_dbt_max_partition` at all — lets
    * the engine skip the max-partition fetch job when unused.
    */
  def referencesMaxPartition(rawSql: String): Boolean =
    maxPartRe.findFirstIn(rawSql).isDefined

  // ------------------------------------------- Jinja control-flow subset

  // `{% set name = <literal> %}` — literal list, quoted string, or number
  // (dbt-utils' everyday shape; NOT general Python expressions)
  private val setRe: Regex =
    """\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*(\[[^\]]*\]|'[^']*'|[-\d.]+)\s*-?%\}""".r
  // BLOCK-form set: `{% set name %}…{% endset %}` captures the body as a
  // text binding (dbt's multi-line SQL-fragment idiom). Non-greedy to the
  // FIRST endset; a nested block-form open inside the body is refused
  // loudly below (Jinja allows it, this subset does not).
  private val setBlockRe: Regex =
    ("""(?s)\{%-?\s*set\s+([A-Za-z_]\w*)\s*-?%\}(.*?)""" +
      """\{%-?\s*endset\s*-?%\}""").r
  private val setBlockOpenRe: Regex =
    """\{%-?\s*set\s+[A-Za-z_]\w*\s*-?%\}""".r
  // innermost `{% for x in <list-literal|range(..)|set-name|rows|
  // result.columns[i].values()> %} … {% endfor %}`: the tempered body
  // ((?!{% for).)*? cannot contain a nested for-open, so fixpoint
  // iteration expands loops inside-out
  private val forRe: Regex =
    ("""(?s)\{%-?\s*for\s+([A-Za-z_]\w*)\s+in\s+""" +
      """(\[[^\]]*\]|range\(\s*\d+\s*(?:,\s*\d+\s*)?\)|""" +
      """[A-Za-z_]\w*(?:\.columns\[\d+\]\.values\(\)|\['[^']+'\]|\.[A-Za-z_]\w*)?)""" +
      // optional Jinja loop filter: {% for x in xs if <cond> %} — the
      // filtered sequence is what loop.index/first/last see (Jinja
      // numbers survivors, not the raw iterable)
      """(?:\s+if\s+((?:(?!-?%\}).)*?))?""" +
      """\s*-?%\}((?:(?!\{%-?\s*for\s).)*?)\{%-?\s*endfor\s*-?%\}""").r
  // `rs.columns[0].values()` — the agate-table column accessor of dbt's
  // run_query results, usable as a loop iterable or (with a reducing
  // filter) an interpolation
  private val colValuesRe: Regex =
    """([A-Za-z_]\w*)\.columns\[(\d+)\]\.values\(\)""".r
  // Python/Jinja range: range(n) = 0..n-1, range(a, b) = a..b-1
  private val rangeRe: Regex = """range\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""".r
  // `{% if cond %}a{% else %}b{% endif %}` with no nested if in either arm
  private val jifRe: Regex =
    ("""(?s)\{%-?\s*if\s+((?:(?!%\}).)*?)\s*-?%\}((?:(?!\{%-?\s*if\s).)*?)""" +
      """(?:\{%-?\s*else\s*-?%\}((?:(?!\{%-?\s*if\s).)*?))?""" +
      """\{%-?\s*endif\s*-?%\}""").r

  /** Items of a `[...]` literal, split at commas OUTSIDE quotes —
    * `['a,b', 'c']` is two items, the first containing a comma (a bare
    * split corrupted it into three). Jinja accepts either quote style
    * (`['a']` ≡ `["a"]`), so both protect the split and both strip.
    */
  private[graft] def parseListLiteral(s: String): Seq[String] = {
    val inner = s.trim.stripPrefix("[").stripSuffix("]")
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var q: Char = 0 // current quote char, 0 = outside quotes
    inner.foreach {
      case c @ ('\'' | '"') =>
        if (q == 0) q = c else if (q == c) q = 0
        sb.append(c)
      case ',' if q == 0 => out += sb.result(); sb.clear()
      case c => sb.append(c)
    }
    out += sb.result()
    out.result().map(_.trim).filter(_.nonEmpty).map(stripQuotes)
  }

  private def stripQuotes(v: String): String =
    if (v.length >= 2 &&
        ((v.startsWith("'") && v.endsWith("'")) ||
          (v.startsWith("\"") && v.endsWith("\""))))
      v.substring(1, v.length - 1)
    else v

  // ------------------------------------------------- Jinja filter subset

  // one `| name` or `| name(args)` link; args may hold quoted commas
  private val filterChainPat =
    """(?:\s*\|\s*[A-Za-z_]\w*(?:\((?:'[^']*'|[^()'])*\))?)"""
  private val filterRe: Regex =
    """\|\s*([A-Za-z_]\w*)(?:\(((?:'[^']*'|[^()'])*)\))?""".r

  private def parseFilters(chain: String): Seq[(String, Seq[String])] =
    filterRe.findAllMatchIn(chain).map(m =>
      (m.group(1), Option(m.group(2)).map(splitArgs).getOrElse(Nil))).toSeq

  /** Apply a parsed filter chain to a value. The value may be a LIST
    * (a `[...]` set binding) — then the chain must reduce it to a scalar
    * (`join`/`first`/`last`/`length`) before any string filter runs.
    * Unknown filters fail loudly (the subset's stance: never mis-render).
    */
  private def applyFilterSeq(value0: String,
                             filters: Seq[(String, Seq[String])]): String = {
    var value = value0
    var list: Option[Seq[String]] =
      if (value0.trim.startsWith("[")) Some(parseListLiteral(value0)) else None
    filters.foreach { case (f, args) =>
      (f, list) match {
        case ("join", Some(xs)) =>
          value = xs.mkString(args.headOption.map(stripQuotes).getOrElse(""))
          list = None
        case ("first", Some(xs)) => value = xs.head; list = None
        case ("last", Some(xs)) => value = xs.last; list = None
        case ("length", lo) =>
          value = lo.map(_.size).getOrElse(value.length).toString; list = None
        // value is DEFINED on this path → Jinja's default is the identity
        case ("default", _) => ()
        case ("lower", None) => value = value.toLowerCase
        case ("upper", None) => value = value.toUpperCase
        case ("trim", None) => value = value.trim
        case (other, Some(_)) => throw new IllegalArgumentException(
          s"filter '$other' cannot apply to a list — reduce it first " +
            "with | join/first/last/length")
        case (other, None) => throw new IllegalArgumentException(
          s"unsupported Jinja filter '$other' (supported: lower, upper, " +
            "trim, join, first, last, length, default)")
      }
    }
    if (list.isDefined)
      throw new IllegalArgumentException(
        "a list value must be reduced by its filter chain " +
          "(e.g. | join(', ')) — it cannot render directly")
    value
  }

  /** Replace every `{{ name [| filters] }}` site with `value` run
    * through that site's filter chain. A LIST value (a `[...]` binding)
    * renders only through a reducing filter; a bare `{{ name }}` site
    * for a list fails loudly rather than splicing Python-repr text.
    */
  private def substInterp(name: String, value: String, text: String): String = {
    val re = ("""\{\{\s*""" + Regex.quote(name) +
      "(" + filterChainPat + """*)\s*\}\}""").r
    re.replaceAllIn(text, m => Regex.quoteReplacement {
      val chain = Option(m.group(1)).getOrElse("")
      if (chain.trim.isEmpty) {
        if (value.trim.startsWith("["))
          throw new IllegalArgumentException(
            s"'$name' is a list — interpolate it with a reducing filter " +
              s"(e.g. {{ $name | join(', ') }})")
        value
      } else applyFilterSeq(value, parseFilters(chain))
    })
  }

  // `{{ name | … | default('v') | … }}` where `name` was never bound:
  // Jinja's undefined|default — the default argument becomes the value
  // and the REST of the chain applies. Filters before the default are
  // skipped (they'd error on undefined in Jinja too).
  private val unboundDefaultRe: Regex =
    ("""\{\{\s*([A-Za-z_]\w*)(""" + filterChainPat + """+)\s*\}\}""").r

  private def resolveUnboundDefaults(sql: String): String =
    unboundDefaultRe.replaceAllIn(sql, m => {
      val fs = parseFilters(m.group(2))
      val di = fs.indexWhere(_._1 == "default")
      if (di < 0) m.matched // not a default site — leave for the SQL parser
      else Regex.quoteReplacement(applyFilterSeq(
        stripQuotes(fs(di)._2.headOption.getOrElse(
          throw new IllegalArgumentException(
            s"default filter on '${m.group(1)}' needs an argument"))),
        fs.drop(di + 1)))
    })

  /** A token that IS a value: quoted string (content), number, or
    * boolean. A bare identifier is NOT one — it is an unresolved
    * variable, and deciding a comparison on its NAME would silently
    * pick the wrong branch (loop/set variables substitute into
    * conditions as quoted literals before evaluation, see
    * [[substVarInConds]]).
    */
  private def litTok(s0: String): Option[String] = {
    val s = s0.trim
    if (s.length >= 2 && s.startsWith("'") && s.endsWith("'"))
      Some(s.substring(1, s.length - 1))
    else if (s.matches("-?\\d+(\\.\\d+)?") || s == "true" || s == "false")
      Some(s)
    else None
  }

  /** Evaluate the decidable condition subset: `true`/`false`, `not c`,
    * `a == b` / `a != b` over LITERAL tokens (quoted strings compare by
    * content). None = not decidable here → the block passes through
    * untouched (e.g. `is_incremental()`, which [[compile]] resolves
    * separately, or a comparison on an unresolved variable — left for
    * the SQL parser to reject loudly rather than mis-decided).
    */
  /** Split a condition at top-level occurrences of a word operator
    * (` and ` / ` or `), respecting quotes, brackets, and parens —
    * `x == 'a and b'` must not split. Returns Nil when the operator
    * never occurs at top level.
    */
  private def splitBoolOp(c: String, op: String): Seq[String] = {
    val needle = s" $op "
    val cuts = Seq.newBuilder[Int]
    var depth = 0; var q: Char = 0; var i = 0
    while (i < c.length) {
      val ch = c.charAt(i)
      if (q != 0) { if (ch == q) q = 0 }
      else ch match {
        case '\'' | '"' => q = ch
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ' ' if depth == 0 && c.regionMatches(i, needle, 0,
            needle.length) => cuts += i
        case _ => ()
      }
      i += 1
    }
    val at = cuts.result()
    if (at.isEmpty) Nil
    else {
      val bounds = (-needle.length +: at) :+ c.length
      bounds.sliding(2).map { case Seq(a, b) =>
        c.substring(a + needle.length, b)
      }.toSeq
    }
  }

  private def evalCond(c0: String): Option[Boolean] = {
    val c = c0.trim
    // Jinja precedence: `or` binds loosest, then `and`, then `not`,
    // then comparisons. Short-circuit three-valued: one decided-true
    // arm decides an `or` even if a sibling is undecidable (and dually
    // for `and`) — matching lazy Jinja, and deciding strictly more
    // conditions than all-or-nothing evaluation would.
    val orArms = splitBoolOp(c, "or")
    if (orArms.nonEmpty) {
      val vs = orArms.map(evalCond)
      if (vs.exists(_.contains(true))) Some(true)
      else if (vs.forall(_.contains(false))) Some(false)
      else None
    } else {
      val andArms = splitBoolOp(c, "and")
      if (andArms.nonEmpty) {
        val vs = andArms.map(evalCond)
        if (vs.exists(_.contains(false))) Some(false)
        else if (vs.forall(_.contains(true))) Some(true)
        else None
      }
      // outer parens strip only when they wrap the WHOLE condition —
      // `(a) == (b)` has a balanced-break inside and must not strip
      else if (c.startsWith("(") && c.endsWith(")") &&
          balancedParens(c.substring(1, c.length - 1)))
        evalCond(c.substring(1, c.length - 1))
      else if (c == "true") Some(true)
      else if (c == "false") Some(false)
      // dbt's `execute` flag: true while compiling the executable graph
      // (the parse-phase false branch has no analogue here — expansion
      // IS the execute phase), so `{% if execute %}` guards resolve open
      else if (c == "execute") Some(true)
      else if (c.startsWith("not ")) evalCond(c.stripPrefix("not ")).map(!_)
      else {
        val eq = c.split("==", 2)
        val ne = c.split("!=", 2)
        val inArms = splitInOp(c)
        if (eq.length == 2 && !c.contains("!=") && !c.contains(" in "))
          for (a <- litTok(eq(0)); b <- litTok(eq(1))) yield a == b
        else if (ne.length == 2 && !c.contains(" in "))
          for (a <- litTok(ne(0)); b <- litTok(ne(1))) yield a != b
        else inArms match {
          // `x [not] in ['a', 'b']` — Jinja membership over a literal list
          case Some((lhs, neg, list)) =>
            litTok(lhs).map { v =>
              val members = parseListLiteral(list).map(stripQuotes)
              members.contains(v) != neg
            }
          case None => None
        }
      }
    }
  }

  /** `lhs [not] in [list-literal]` → (lhs, negated, list text). */
  private def splitInOp(c: String): Option[(String, Boolean, String)] = {
    val m = """^(.*?)\s+(not\s+)?in\s+(\[[^\]]*\])$""".r
    m.findFirstMatchIn(c.trim).map(x =>
      (x.group(1), x.group(2) != null, x.group(3)))
  }

  private def balancedParens(s: String): Boolean = {
    var depth = 0; var q: Char = 0
    s.foreach { ch =>
      if (q != 0) { if (ch == q) q = 0 }
      else ch match {
        case '\'' | '"' => q = ch
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth < 0) return false
        case _ => ()
      }
    }
    depth == 0
  }

  private val ifHeadRe: Regex =
    """\{%-?\s*if\s+((?:(?!%\}).)*?)\s*-?%\}""".r

  // one if/elif/else/endif tag, with its raw head text as group 2
  private val ifTagRe: Regex =
    """\{%-?\s*(if|elif|else|endif)((?:(?!%\}).)*?)-?%\}""".r

  /** Rewrite `{% elif %}` chains into nested `{% else %}{% if %}` blocks
    * — semantically identical in Jinja, and the nested form is what the
    * innermost-if fixpoint of [[evalIfs]] already evaluates. 9 of the
    * reference's 184 macros use elif, including `partition_by` itself
    * (manifest.json:1 @13262), so a loud refusal made every ported
    * elif-bearing macro fail to compile. The rewrite is a single
    * token-stream walk: each elif opens one extra nested if whose endif
    * is emitted at the chain's own endif; undecidable conditions keep
    * the fail-loud stance downstream (an unresolved nested if leaves
    * Jinja text the SQL parser rejects loudly).
    */
  private[graft] def rewriteElifChains(sql: String): String = {
    if (!sql.contains("elif")) return sql
    val out = new StringBuilder
    var last = 0
    // per-open-if count of elifs seen (= extra endifs owed at its endif)
    val stack = scala.collection.mutable.Stack.empty[Int]
    ifTagRe.findAllMatchIn(sql).foreach { m =>
      out.append(sql.substring(last, m.start))
      m.group(1) match {
        case "if" =>
          stack.push(0)
          out.append(m.matched)
        case "elif" =>
          require(stack.nonEmpty, "{% elif %} outside an {% if %} block")
          stack.push(stack.pop() + 1)
          out.append("{% else %}{% if").append(m.group(2)).append("%}")
        case "else" =>
          out.append(m.matched)
        case "endif" =>
          require(stack.nonEmpty, "{% endif %} without an open {% if %}")
          val owed = stack.pop()
          out.append(m.matched)
          (0 until owed).foreach(_ => out.append("{% endif %}"))
      }
      last = m.end
    }
    out.append(sql.substring(last))
    require(stack.isEmpty,
      "unbalanced {% if %}/{% endif %} around an {% elif %} chain")
    out.result()
  }

  /** Substitute a variable into `{% if %}` CONDITIONS as a quoted
    * literal (jinja conditions use bare names — `{% if st == 'O' %}` —
    * where interpolation sites use `{{ st }}`). Word-boundary match, so
    * only condition text rewrites; SQL body text is untouched.
    */
  private def substVarInConds(name: String, value: String,
                              s: String): String = {
    val bare = ("""\b""" + Regex.quote(name) + """\b""").r
    val quoted = "'" + value.replace("'", "''") + "'"
    ifHeadRe.replaceAllIn(s, m => Regex.quoteReplacement(
      "{% if " + bare.replaceAllIn(m.group(1),
        Regex.quoteReplacement(quoted)) + " %}"))
  }

  // Jinja `{% for %}…{% else %}{% endfor %}`: the else arm renders when
  // the (filtered) sequence is EMPTY. The else must sit at the for's own
  // level — one inside a nested {% if %} belongs to the if, so the split
  // point is the first else with balanced if/endif counts before it.
  private def splitForElse(body: String): (String, Option[String]) = {
    val elseRe = """\{%-?\s*else\s*-?%\}""".r
    val ifOpenRe = """\{%-?\s*if\s""".r
    val ifCloseRe = """\{%-?\s*endif\s*-?%\}""".r
    elseRe.findAllMatchIn(body).find { m =>
      val pre = body.substring(0, m.start)
      ifOpenRe.findAllIn(pre).size == ifCloseRe.findAllIn(pre).size
    } match {
      case Some(m) =>
        (body.substring(0, m.start), Some(body.substring(m.end)))
      case None => (body, None)
    }
  }

  // ------------------------------------------------------- namespace()
  // Jinja's loop-carried mutable state: `{% set ns = namespace(k=v) %}`
  // declarations, `{% set ns.k = <expr> %}` updates, `{{ ns.k }}` reads,
  // and `{% if %}`s over ns values — the counter/found-flag idiom of
  // ported dbt macros. Resolved SEQUENTIALLY after loop expansion (the
  // unrolled body is straight-line text, so document order IS execution
  // order). Expr subset: literal | ns.k | ns.k +/- int | ns.k ~ 'str'
  // (either operand order); anything else fails loudly.
  private val nsDeclRe: Regex =
    """\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*namespace\(([^)]*)\)\s*-?%\}""".r

  // `{% do xs.append(<expr>) %}` — Jinja's OTHER loop-carried
  // accumulator (dbt macros build column lists this way). Resolved by
  // the same sequential post-unroll pass: the list declaration
  // `{% set xs = [...] %}` stays in the text (excluded from static
  // binding), appends evaluate in document order (literals and `~`
  // concats of literals), and the accumulated list renders ONLY through
  // reducing filter sites (`{{ xs | join(', ') }}`, `| length`,
  // `| first/last`). A later `{% for %}` over an appended list is out
  // of scope: loops expand before this pass, so it survives and fails
  // the did-not-terminate check loudly.
  private[graft] val doAppendRe: Regex =
    """\{%-?\s*do\s+([A-Za-z_]\w*)\.append\(\s*((?:(?!-?%\}).)*?)\s*\)\s*-?%\}""".r
  private val listDeclRe: Regex =
    """\{%-?\s*set\s+([A-Za-z_]\w*)\s*=\s*(\[[^\]]*\])\s*-?%\}""".r

  private[graft] def resolveNamespaces(sql0: String): String = {
    val state = scala.collection.mutable.Map.empty[(String, String), String]
    var sql = nsDeclRe.replaceAllIn(sql0, m => {
      val ns = m.group(1)
      splitArgs(m.group(2)).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => state((ns, k.trim)) = v.trim
          case _ => throw new IllegalArgumentException(
            s"namespace($kv): entries must be k=<literal>")
        }
      }
      ""
    })
    val listNames: Set[String] =
      doAppendRe.findAllMatchIn(sql).map(_.group(1)).toSet
    if (state.isEmpty && listNames.isEmpty) {
      // a dotted set with no declaration in scope must not leak jinja
      require(!"""\{%-?\s*set\s+[A-Za-z_]\w*\.""".r.findFirstIn(sql).isDefined,
        "{% set x.y = ... %} requires a {% set x = namespace(...) %} " +
          "declaration in the same scope")
      return sql
    }
    val nsAlt = (state.keys.map(_._1).toSet + "__graft_none__").toSeq.sorted
      .map(Regex.quote).mkString("(", "|", ")")
    val setNsRe = ("""\{%-?\s*set\s+""" + nsAlt +
      """\.([A-Za-z_]\w*)\s*=\s*((?:(?!-?%\}).)*?)\s*-?%\}""").r
    val readRe = ("""\{\{\s*""" + nsAlt +
      """\.([A-Za-z_]\w*)\s*\}\}""").r
    val nsIfRe = ("""(?s)\{%-?\s*if\s+((?:(?!-?%\}).)*?""" + nsAlt +
      """\.(?:(?!-?%\}).)*?)\s*-?%\}((?:(?!\{%-?\s*if\s).)*?)""" +
      """(?:\{%-?\s*else\s*-?%\}((?:(?!\{%-?\s*if\s).)*?))?""" +
      """\{%-?\s*endif\s*-?%\}""").r
    def get(ns: String, k: String): String = state.getOrElse((ns, k),
      throw new IllegalArgumentException(
        s"$ns.$k read before assignment (keys: " +
          s"${state.keys.collect { case (n, kk) if n == ns => kk }
            .toSeq.sorted.mkString(", ")})"))
    val numRe = """-?\d+(?:\.\d+)?""".r
    def isNum(s: String) = numRe.pattern.matcher(s).matches()
    def term(t0: String): String = t0.trim match {
      case t if t.startsWith("'") => t
      case t if isNum(t) || t == "true" || t == "false" => t
      case t => t.split("\\.", 2) match {
        case Array(n, k) if state.contains((n, k)) => get(n, k)
        case _ => throw new IllegalArgumentException(
          s"namespace update: unsupported term '$t0' — use a literal " +
            "or <ns>.<key>")
      }
    }
    def eval(rhs: String): String = {
      // first operand must END with a word char/quote so a bare
      // negative literal (`-5`) falls through to the single-term case
      val binRe = """(?s)^(.*?[\w'])\s*([+\-~])\s*('[^']*'|[\w.]+)$""".r
      rhs.trim match {
        case binRe(a, op, b) if op == "~" =>
          "'" + stripQuotes(term(a)) + stripQuotes(term(b)) + "'"
        case binRe(a, op, b) =>
          val (x, y) = (term(a), term(b))
          require(isNum(x) && isNum(y),
            s"namespace arithmetic needs numeric operands, got '$x' $op '$y'")
          val r = if (op == "+") BigDecimal(x) + BigDecimal(y)
            else BigDecimal(x) - BigDecimal(y)
          r.bigDecimal.stripTrailingZeros.toPlainString
        case single => term(single)
      }
    }
    // ------- list accumulators ({% do xs.append(...) %}) — same pass
    val lists = scala.collection.mutable.Map.empty[String, Vector[String]]
    val listAlt = (listNames + "__graft_none__").toSeq.sorted
      .map(Regex.quote).mkString("(", "|", ")")
    val listDeclHereRe = ("""\{%-?\s*set\s+""" + listAlt +
      """\s*=\s*(\[[^\]]*\])\s*-?%\}""").r
    val listReadRe = ("""\{\{\s*""" + listAlt +
      """\s*(""" + filterChainPat + """+)\s*\}\}""").r
    def concatEval(arg: String): String = splitTilde(arg).map { p =>
      val t = p.trim
      if (t.startsWith("'") || t.startsWith("\"")) stripQuotes(t)
      else if (isNum(t) || t == "true" || t == "false") t
      else t.split("\\.", 2) match {
        case Array(n, k) if state.contains((n, k)) => stripQuotes(get(n, k))
        case _ => throw new IllegalArgumentException(
          s"append: unsupported piece '$p' — use quoted literals, " +
            "numbers, or <ns>.<key>, ~-concatenated")
      }
    }.mkString
    def listLiteral(name: String): String = {
      val xs = lists.getOrElse(name, throw new IllegalArgumentException(
        s"'$name' read before its {% set $name = [...] %} declaration"))
      xs.find(_.contains("'")).foreach(x =>
        throw new IllegalArgumentException(
          s"appended value containing a quote cannot render: $x"))
      xs.map(x => s"'$x'").mkString("[", ", ", "]")
    }
    // sequential walk: apply the EARLIEST of (ns update | ns read |
    // ns-if | list decl | append | list read), splice, continue — ifs
    // decide against the state at their position and their chosen arm
    // re-enters the stream for nested handling
    val out = new StringBuilder
    var rest = sql
    var guard = 0
    while (rest.nonEmpty && guard < 100000) {
      guard += 1
      val cands = Seq(
        setNsRe.findFirstMatchIn(rest).map(m => (m, "set")),
        readRe.findFirstMatchIn(rest).map(m => (m, "read")),
        nsIfRe.findFirstMatchIn(rest).map(m => (m, "if"))
      ).flatten ++ (if (listNames.isEmpty) Nil else Seq(
        listDeclHereRe.findFirstMatchIn(rest).map(m => (m, "ldecl")),
        doAppendRe.findFirstMatchIn(rest).map(m => (m, "append")),
        listReadRe.findFirstMatchIn(rest).map(m => (m, "lread"))
      ).flatten)
      if (cands.isEmpty) { out.append(rest); rest = "" }
      else {
        val (m, kind) = cands.minBy(_._1.start)
        out.append(rest.substring(0, m.start))
        val tail = rest.substring(m.end)
        kind match {
          case "set" =>
            state((m.group(1), m.group(2))) = eval(m.group(3))
            rest = tail
          case "read" =>
            out.append(stripQuotes(get(m.group(1), m.group(2))))
            rest = tail
          case "ldecl" =>
            lists(m.group(1)) = parseListLiteral(m.group(2)).toVector
            rest = tail
          case "append" =>
            val name = m.group(1)
            lists(name) = lists.getOrElse(name,
              throw new IllegalArgumentException(
                s"{% do $name.append(...) %} before its " +
                  s"{% set $name = [...] %} declaration")) :+
              concatEval(m.group(2))
            rest = tail
          case "lread" =>
            out.append(applyFilterSeq(listLiteral(m.group(1)),
              parseFilters(m.group(2))))
            rest = tail
          case "if" =>
            // substitute current ns values (strings stay quoted) into
            // the condition, then it must decide
            val cond = ("""\b""" + nsAlt + """\.([A-Za-z_]\w*)\b""").r
              .replaceAllIn(m.group(1),
                cm => Regex.quoteReplacement(get(cm.group(1), cm.group(2))))
            val arm = evalCond(cond) match {
              case Some(true) => m.group(3)
              case Some(false) => Option(m.group(4)).getOrElse("")
              case None => throw new IllegalArgumentException(
                s"namespace condition '${m.group(1)}' is undecidable " +
                  s"after substitution: '$cond'")
            }
            rest = arm + tail
        }
      }
    }
    require(rest.isEmpty, "namespace resolution did not terminate")
    val resolved = out.result()
    require(!("""\{%-?\s*set\s+""" + nsAlt + """\.""").r
      .findFirstIn(resolved).isDefined,
      "unresolved namespace update survived resolution")
    require(!resolved.contains(".append("),
      "unresolved {% do .append() %} survived resolution")
    listNames.find(n =>
      ("""\{\{\s*""" + Regex.quote(n) + """\s*\}\}""").r
        .findFirstIn(resolved).isDefined).foreach(n =>
      throw new IllegalArgumentException(
        s"'$n' is an appended list — interpolate it with a reducing " +
          s"filter (e.g. {{ $n | join(', ') }})"))
    resolved
  }

  private def evalIfs(s: String): String =
    jifRe.replaceAllIn(s, m => Regex.quoteReplacement {
      // an {% elif %} arm would land INSIDE a matched group and render
      // half-expanded — outside the subset, so refuse it whole rather
      // than leak jinja into the SQL (chain {% else %}{% if %} instead)
      if (m.matched.contains("{% elif") || m.matched.contains("{%- elif"))
        throw new IllegalArgumentException(
          "{% elif %} is outside the Jinja subset — nest " +
            "{% else %}{% if ... %} blocks instead")
      evalCond(m.group(1)) match {
        case Some(true) => m.group(2)
        case Some(false) => Option(m.group(3)).getOrElse("")
        case None => m.matched
      }
    })

  /** Expand the Jinja control-flow subset dbt-utils macros lean on
    * (`pivot`/`star`-style loop-generated column lists — the reference's
    * own macro library is full Jinja, e.g. `default__load_csv_rows`,
    * manifest.json:1 @76100 `{% for %}`): `{% set name = <literal> %}`
    * bindings, `{% for x in [..] %}` / `{% for x in bound_list %}` with
    * `loop.index`/`loop.first`/`loop.last`, and the decidable `{% if %}`
    * subset those loops need (`{% if not loop.last %},{% endif %}`).
    * Runs textually, inside-out to fixpoint, AFTER `is_incremental()`
    * block resolution and BEFORE builtin/ref resolution — compiled SQL
    * (and therefore state:modified checksums downstream of raw text)
    * sees the fully expanded form. Loops over query results or Python
    * objects remain out of scope: a surviving `{% for %}`/`{% endfor %}`
    * after expansion fails loudly below rather than reaching the SQL
    * parser.
    */
  def expandControlFlow(sql0: String, maxDepth: Int = 10,
      tables: Map[String, QueryResult] = Map.empty): String = {
    // `{{ rs.columns[0].values() | join(', ') }}` interpolation sites:
    // the column renders as a list binding would — only through a
    // reducing filter chain. Runs before the no-{%-block early return:
    // a reduction site needs no {% %} block to be meaningful.
    var pre = sql0
    // `{{ d['col'] | join(', ') }}` reduction sites on dict bindings —
    // same contract as the .columns[i].values() sites below
    if (tables.exists(_._2.dict)) {
      val dictInterp = ("""\{\{\s*([A-Za-z_]\w*)(?:\['([^']+)'\]|""" +
        """\.([A-Za-z_]\w*))\s*(""" + filterChainPat + """*)\s*\}\}""").r
      pre = dictInterp.replaceAllIn(pre, m =>
        tables.get(m.group(1)).filter(_.dict) match {
          case Some(_) =>
            val xs = dictColumn(m.group(1),
              Option(m.group(2)).getOrElse(m.group(3)), tables)
            xs.find(_.contains("'")).foreach(x =>
              throw new IllegalArgumentException(
                s"dict column value containing a quote cannot " +
                  s"interpolate: $x"))
            Regex.quoteReplacement(applyFilterSeq(
              xs.map(x => s"'$x'").mkString("[", ", ", "]"),
              parseFilters(Option(m.group(4)).getOrElse(""))))
          case None => Regex.quoteReplacement(m.matched)
        })
    }
    if (tables.nonEmpty && pre.contains(".columns[")) {
      val interpCols = ("""\{\{\s*([A-Za-z_]\w*\.columns\[\d+\]\.values\(\))""" +
        "(" + filterChainPat + """*)\s*\}\}""").r
      pre = interpCols.replaceAllIn(pre, m => {
        val xs = tableColumn(m.group(1), tables)
        xs.find(_.contains("'")).foreach(x =>
          throw new IllegalArgumentException(
            s"run_query column value containing a quote cannot " +
              s"interpolate: $x"))
        Regex.quoteReplacement(applyFilterSeq(
          xs.map(x => s"'$x'").mkString("[", ", ", "]"),
          parseFilters(Option(m.group(2)).getOrElse(""))))
      })
    }
    // pivot over a LITERAL list needs no {% %} block either
    if (pre.contains("pivot(") && !pre.contains("{%"))
      pre = expandPivot(pre, Map.empty)
    if (!pre.contains("{%"))
      // still resolve `{{ name | default('v') }}` sites — they need no
      // {% %} block to be meaningful
      return if (pre.contains("{{")) resolveUnboundDefaults(pre) else pre
    // block-form set FIRST: `{% set frag %}…{% endset %}` captures text
    // and splices at its `{{ frag }}` sites BEFORE the elif rewrite and
    // loop expansion, so control flow INSIDE a captured fragment is
    // processed exactly as if written in place (textual capture — this
    // subset's equivalent of Jinja's render-at-capture, since every
    // later pass runs over the spliced result)
    if (pre.contains("endset")) {
      val blockBinds = Seq.newBuilder[(String, String)]
      pre = setBlockRe.replaceAllIn(pre, m => {
        val (name, body) = (m.group(1), m.group(2))
        if (setBlockOpenRe.findFirstIn(body).isDefined)
          throw new IllegalArgumentException(
            s"nested {% set %}…{% endset %} blocks are unsupported " +
              s"(binding '$name')")
        blockBinds += name -> body
        ""
      })
      blockBinds.result().foreach { case (k, body) =>
        pre = substInterp(k, body, pre)
      }
    }
    // a list that is APPENDED to is sequential state, not a static
    // binding: its declaration stays in place for the post-unroll
    // scripted pass, and it never substitutes eagerly (the initial
    // value would be wrong at sites after an append)
    val appended: Set[String] =
      if (!pre.contains(".append(")) Set.empty
      else doAppendRe.findAllMatchIn(pre).map(_.group(1)).toSet
    val binds = scala.collection.mutable.Map.empty[String, String]
    var sql = setRe.replaceAllIn(rewriteElifChains(pre), m =>
      if (appended.contains(m.group(1))) Regex.quoteReplacement(m.matched)
      else { binds(m.group(1)) = m.group(2); "" })
    var depth = 0
    var changed = true
    while (changed && depth < maxDepth) {
      val afterFor = forRe.replaceAllIn(sql, m => {
        val (v, listTxt, body0) = (m.group(1), m.group(2), m.group(4))
        // for…else: the else arm renders when the sequence is empty
        val (body, elseArm) = splitForElse(body0)
        def renderEmpty(): String = elseArm.fold("")(evalIfs)
        val filt = Option(m.group(3)).map(_.trim).filter(_.nonEmpty)
        val n0 = tables.get(listTxt).map(_.rows.size)
        // loop.* resolve both as interpolations ({{ loop.index }}) and
        // as bare condition tokens ({% if not loop.last %})
        def loopVal(which: String, value: String, b: String): String =
          ("""\{\{\s*loop\.""" + which + """\s*\}\}""").r
            .replaceAllIn(b, value).replace("loop." + which, value)
        // loop filter over a SCALAR item: the bare variable substitutes
        // as a quoted literal, then the condition must decide — a
        // filter this subset cannot evaluate fails loudly rather than
        // silently keeping everything
        def keepScalar(it: String): Boolean = filt.forall { f =>
          val quoted = "'" + it.replace("'", "''") + "'"
          val cond = ("""\b""" + Regex.quote(v) + """\b""").r
            .replaceAllIn(f, Regex.quoteReplacement(quoted))
          evalCond(cond).getOrElse(throw new IllegalArgumentException(
            s"for-loop filter '$f' is undecidable for item '$it'"))
        }
        def renderScalar(items0: Seq[String]): String = {
          val items = items0.filter(keepScalar) // Jinja: filter THEN number
          val n = items.size
          if (n == 0) return renderEmpty() // Jinja for…else
          // bare loop var inside `{% set %}`/`{% do %}` statements (the
          // accumulator idioms `{% set ns.x = ns.x + item %}` and
          // `{% do xs.append(item) %}`): numbers splice bare, strings
          // quoted. Occurrences INSIDE quoted literals never substitute
          // — `ns.s ~ 'w'` with a loop var named w must keep its literal
          val setStmtRe = """\{%-?\s*(?:set|do)\s+(?:(?!-?%\}).)*?-?%\}""".r
          def substVarInSets(it: String, b: String): String = {
            if (!b.contains("{%")) return b
            val lit = if (it.matches("""-?\d+(\.\d+)?""")) it
              else "'" + it.replace("'", "''") + "'"
            val tokenRe = ("""\b""" + Regex.quote(v) + """\b""").r
            val quotedRe = """'[^']*'""".r
            setStmtRe.replaceAllIn(b, sm => Regex.quoteReplacement {
              val s = sm.matched
              val out = new StringBuilder
              var last = 0
              for (qm <- quotedRe.findAllMatchIn(s)) {
                out.append(tokenRe.replaceAllIn(s.substring(last, qm.start),
                  Regex.quoteReplacement(lit)))
                out.append(qm.matched)
                last = qm.end
              }
              out.append(tokenRe.replaceAllIn(s.substring(last),
                Regex.quoteReplacement(lit)))
              out.result()
            })
          }
          items.zipWithIndex.map { case (it, i) =>
            var b = substInterp(v, it, body) // {{ x }} and {{ x | lower }}
            b = substVarInConds(v, it, b) // bare `{% if st == 'O' %}` form
            b = substVarInSets(it, b)
            b = loopVal("index", (i + 1).toString, b)
            b = loopVal("first", if (i == 0) "true" else "false", b)
            b = loopVal("last", if (i == n - 1) "true" else "false", b)
            evalIfs(b)
          }.mkString
        }
        Regex.quoteReplacement(listTxt match {
          case name if n0.isDefined => // {% for r in rs %} — ROW iteration
            val t = tables(name)
            require(!t.dict, s"'$name' is a get_query_results_as_dict " +
              s"binding — iterate a column: $name['${t.columns.headOption
                .getOrElse("col")}']")
            // row-loop filter: bare `r.col` / `r['col']` accessors in
            // the condition substitute as quoted literals, then decide
            val rows = t.rows.filter { row =>
              filt.forall { f =>
                val accRe = ("""\b""" + Regex.quote(v) +
                  """(?:\.([A-Za-z_]\w*)|\['([^']+)'\])""").r
                val cond = accRe.replaceAllIn(f, am => {
                  val cn = Option(am.group(1)).getOrElse(am.group(2))
                  val ci = ciColumnIndex(t.columns, cn, "row-loop filter")
                  Regex.quoteReplacement(
                    "'" + row(ci).replace("'", "''") + "'")
                })
                evalCond(cond).getOrElse(throw new IllegalArgumentException(
                  s"for-loop filter '$f' is undecidable"))
              }
            }
            val n = rows.size
            if (n == 0) renderEmpty() // Jinja for…else
            else rows.zipWithIndex.map { case (row, i) =>
              var b = substRowAccessors(v, t.columns, row, body)
              b = loopVal("index", (i + 1).toString, b)
              b = loopVal("first", if (i == 0) "true" else "false", b)
              b = loopVal("last", if (i == n - 1) "true" else "false", b)
              evalIfs(b)
            }.mkString
          case c if c.contains(".columns[") => // column-values iteration
            renderScalar(tableColumn(c, tables))
          case dictColRe(name, colQ, colDot)
              if tables.get(name).exists(_.dict) => // dict column iteration
            renderScalar(dictColumn(name,
              Option(colQ).getOrElse(colDot), tables))
          case rangeRe(a, b) => // Python semantics: end-exclusive
            val (lo, hi) = if (b == null) (0, a.toInt) else (a.toInt, b.toInt)
            renderScalar((lo until hi).map(_.toString))
          case l if l.startsWith("[") => renderScalar(parseListLiteral(l))
          case name => renderScalar(parseListLiteral(binds.getOrElse(name,
            throw new IllegalArgumentException(
              s"for-loop iterates '$name', which is not a list literal, " +
                "range(), a {% set %}-bound list, or a run_query result"))))
        })
      })
      // dbt-utils pivot sites consume {% set %}-bound lists directly
      var mid = afterFor
      if (mid.contains("pivot(")) mid = expandPivot(mid, binds)
      // {% set %} bindings: scalars into if-conditions as quoted literals
      // first, then interpolation sites; LIST bindings render only
      // through a reducing filter site ({{ xs | join(', ') }})
      binds.foreach { case (k, raw) =>
        if (!raw.startsWith("[")) {
          mid = substVarInConds(k, stripQuotes(raw), mid)
          mid = substInterp(k, stripQuotes(raw), mid)
        } else if (("""\{\{\s*""" + Regex.quote(k) + "\\b").r
            .findFirstIn(mid).isDefined) {
          mid = substInterp(k, raw, mid)
        }
      }
      val next = evalIfs(mid)
      changed = next != sql
      sql = next
      depth += 1
    }
    if (sql.contains("{% for") || sql.contains("{% endfor") ||
        sql.contains("{%- for"))
      throw new IllegalArgumentException(
        s"control-flow expansion did not terminate in $maxDepth rounds")
    // namespace() state resolves AFTER loop unrolling (document order of
    // the straight-line text IS execution order) and BEFORE
    // unbound-default resolution (ns reads would look unbound)
    if (sql.contains("namespace(") || sql.contains(".append(") ||
        """\{%-?\s*set\s+[A-Za-z_]\w*\.""".r.findFirstIn(sql).isDefined)
      sql = resolveNamespaces(sql)
    resolveUnboundDefaults(sql)
  }

  // ------------------------------------------------- user-defined macros

  /** A user macro: `{% macro name(p1, p2='default') %} body {% endmacro %}`
    * (the reference project reserves the slot — `macros/.gitkeep`, dbt
    * macro search path `dbt_project.yml:15-20`). The supported subset is
    * dbt's everyday shape: parameterized SQL fragments. Body params
    * interpolate as `{{ p1 }}`; bodies may use `ref`/`source`/`env_var`
    * and other macros (expansion runs to fixpoint BEFORE builtin
    * resolution, so the DAG and compiled SQL see the expanded text).
    * Bodies may also use the [[expandControlFlow]] subset (`{% set %}`
    * literals, `{% for %}` over literal lists, decidable `{% if %}`) —
    * it expands during [[compile]], after macro substitution. Not
    * supported (use a model instead): loops over query results and
    * Python-object argument semantics — arguments are SQL text, spliced
    * verbatim.
    */
  final case class MacroDef(name: String,
                            params: Seq[(String, Option[String])],
                            body: String)

  /** Builtins a macro may never shadow (their calls resolve in
    * [[compile]], after expansion).
    */
  private val ReservedMacroNames =
    Set("ref", "source", "env_var", "var", "config", "this", "is_incremental")

  private val macroDefRe: Regex =
    """(?s)\{%\s*macro\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*%\}(.*?)\{%\s*endmacro\s*%\}""".r

  // `{{ adapter.dispatch('name'[, 'pkg'])(args) }}` — dbt's
  // adapter-specific macro resolution; 51 of the reference's 184 macros
  // route through it (the `default__`/`bigquery__` prefix convention).
  // The kwarg spelling `macro_namespace='pkg'` is accepted too.
  private val dispatchRe: Regex =
    ("""(?s)\{\{\s*adapter\.dispatch\(\s*'([^']+)'(?:\s*,\s*""" +
      """(?:macro_namespace\s*=\s*)?'([^']+)')?\s*\)\s*\((.*?)\)\s*\}\}""").r

  /** Resolve every `adapter.dispatch` site to a direct macro call by
    * dbt's search order — for each adapter prefix (`spark__` first,
    * then `default__`): the root project's namespace, then the named
    * package's. A dispatch with no implementation anywhere fails loudly
    * with the names it looked for, never leaking Jinja to the SQL
    * parser. The resolved `{{ <impl>(args) }}` call then expands like
    * any direct macro call in the same round.
    */
  private def resolveDispatch(sql: String,
      macros: Map[String, MacroDef]): String =
    dispatchRe.replaceAllIn(sql, m => {
      val name = m.group(1)
      val pkg = Option(m.group(2))
      val candidates =
        (Seq(s"spark__$name") ++ pkg.map(p => s"$p.spark__$name") ++
          Seq(s"default__$name") ++ pkg.map(p => s"$p.default__$name"))
      val resolved = candidates.find(macros.contains).getOrElse(
        throw new IllegalArgumentException(
          s"adapter.dispatch('$name'${pkg.fold("")(p => s", '$p'")}): no " +
            s"implementation found — looked for ${candidates.mkString(", ")}"))
      Regex.quoteReplacement(s"{{ $resolved(${m.group(3)}) }}")
    })
  // call names may be package-qualified: {{ dbt_utils.star(...) }}
  private val macroCallRe: Regex =
    """\{\{\s*([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*\((.*?)\)\s*\}\}""".r
  private val kwArgRe: Regex = """(?s)^([A-Za-z_]\w*)\s*=(?!=)(.*)$""".r

  /** Parse every macro definition in `text` (one file may define many). */
  def parseMacros(text: String): Seq[MacroDef] =
    macroDefRe.findAllMatchIn(text).map { m =>
      val name = m.group(1)
      require(!ReservedMacroNames.contains(name),
        s"macro '$name' shadows a builtin")
      MacroDef(name, parseParams(name, m.group(2)), m.group(3).trim)
    }.toSeq

  /** Parse a macro/test signature's parameter list (`p1, p2='default'`). */
  private def parseParams(owner: String,
                          s: String): Seq[(String, Option[String])] = {
    val params = s.split(",").iterator.map(_.trim)
      .filter(_.nonEmpty).map { p =>
        p.split("=", 2) match {
          case Array(n, d) =>
            n.trim -> Some(d.trim.stripPrefix("'").stripSuffix("'"))
          case Array(n) => n.trim -> None
        }
      }.toSeq
    require(params.map(_._1).distinct.size == params.size,
      s"'$owner' has duplicate params")
    params
  }

  // dbt GENERIC ("schema") test definitions: `{% test name(model,
  // column_name, ...) %} body {% endtest %}` — dbt-core sugar for a
  // macro named `test_<name>` whose rendered result set is the FAILING
  // rows. Referenced from schema.yml `tests:` entries by bare name or
  // with kwargs (`- my_test: {k: v}`); dbt binds `model` to the tested
  // relation and `column_name` for column-scoped uses.
  private val testBlockRe: Regex =
    """(?s)\{%-?\s*test\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s*-?%\}(.*?)\{%-?\s*endtest\s*-?%\}""".r

  /** Parse every generic-test block in `text` (macro-dir `.sql` files
    * mix `{% macro %}` and `{% test %}` blocks freely, as in dbt).
    */
  def parseGenericTests(text: String): Seq[MacroDef] =
    testBlockRe.findAllMatchIn(text).map { m =>
      val name = m.group(1)
      val params = parseParams(s"test $name", m.group(2))
      require(params.headOption.exists(_._1 == "model"),
        s"generic test '$name': first parameter must be 'model'")
      MacroDef(name, params, m.group(3).trim)
    }.toSeq

  /** Render a generic test invocation to templated SQL: every declared
    * param binds from `bindings` (or its signature default) — `model`
    * arrives as the owner's `{{ ref(...) }}`/`{{ source(...) }}` text so
    * the downstream compile resolves it like any model SQL. `{{ p }}`
    * sites interpolate (with filter chains); a LIST-valued binding
    * additionally substitutes at `{% for x in p %}` iterable sites so
    * loop-shaped tests expand. Unknown binding names fail loudly (dbt's
    * parse-time kwargs check).
    */
  def renderGenericTest(mac: MacroDef,
                        bindings: Map[String, String]): String = {
    val declared = mac.params.map(_._1).toSet
    val unknown = bindings.keySet -- declared
    require(unknown.isEmpty,
      s"test '${mac.name}': unknown argument(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")} — takes " +
        mac.params.map(_._1).mkString(", "))
    var body = mac.body
    mac.params.foreach { case (p, dflt) =>
      val v = bindings.getOrElse(p, dflt.getOrElse(
        throw new IllegalArgumentException(
          s"test '${mac.name}': missing argument '$p'")))
      if (v.trim.startsWith("["))
        body = ("""(\{%-?\s*for\s+\w+\s+in\s+)""" + Regex.quote(p) +
          """\b""").r.replaceAllIn(body,
            mm => Regex.quoteReplacement(mm.group(1) + v))
      body = substInterp(p, v, body)
    }
    body
  }

  // ---------------------------------- custom {% materialization %} blocks

  /** A user-defined materialization (`{% materialization name, default %}`
    * or `, adapter='spark'` — the dbt extension surface; the reference
    * manifest itself carries 7 such macros as data, e.g.
    * `materialization_table_bigquery` @125935). The body is Jinja whose
    * side effects are `{% call statement(...) %}` blocks; the engine
    * renders it with the model's compiled SELECT bound at `{{ sql }}`
    * and executes the statements in document order through the
    * warehouse (see Engine.runCustomMaterialization).
    */
  final case class MaterializationDef(name: String, adapter: String,
                                      body: String)

  private val materializationRe: Regex =
    ("""(?s)\{%-?\s*materialization\s+([A-Za-z_]\w*)\s*""" +
      """(?:,\s*(?:adapter\s*=\s*'([^']+)'|default))?\s*-?%\}""" +
      """(.*?)\{%-?\s*endmaterialization\s*-?%\}""").r

  /** Parse every `{% materialization %}` block in a macro-dir file. */
  def parseMaterializations(text: String): Seq[MaterializationDef] =
    materializationRe.findAllMatchIn(text).map { m =>
      MaterializationDef(m.group(1),
        Option(m.group(2)).getOrElse("default"), m.group(3).trim)
    }.toSeq

  /** dbt adapter resolution over parsed materializations: an
    * adapter-specific block ('spark') wins over 'default'; any other
    * adapter is skipped (a bigquery-only materialization is invisible
    * here, exactly as it is to dbt-core on another adapter).
    */
  def selectMaterializations(
      defs: Seq[MaterializationDef]): Map[String, String] =
    defs.filter(d => d.adapter == "default" || d.adapter == "spark")
      .groupBy(_.name).map { case (n, ds) =>
        n -> ds.sortBy(d => if (d.adapter == "spark") 0 else 1).head.body
      }

  // `config.get('key'[, default])` / `config.require('key')` — the
  // materialization-body config surface (models use {{ config(...) }} to
  // SET; materializations read it back). `default=` kwarg accepted.
  private val configCallRe: Regex =
    ("""\bconfig\.(get|require)\(\s*'([^']+)'""" +
      """(?:\s*,\s*(?:default\s*=\s*)?('[^']*'|"[^"]*"|[^(),]+))?\s*\)""").r

  /** Resolve config.get/require sites against the model's raw config
    * kvs. Interpolation sites (`{{ config.get('k') }}`) splice the bare
    * value; statement positions (`{% set p = config.get('k', 'd') %}`)
    * splice a Jinja literal (strings quoted, numbers/bools/lists bare).
    * A missing key: require throws; get with a default takes it; get
    * without one becomes `none` (decidable by `is none` tests).
    */
  private[graft] def resolveConfigCalls(sql0: String,
      kv: Map[String, String]): String = {
    if (!sql0.contains("config.")) return sql0
    def value(kind: String, name: String, dflt: Option[String]): String =
      kv.get(name).orElse(dflt.map(stripQuotes)).getOrElse {
        if (kind == "require") throw new IllegalArgumentException(
          s"config.require('$name'): key not set on the model (set: " +
            s"${kv.keys.toSeq.sorted.mkString(", ")})")
        else "none"
      }
    // statement positions first ({% set %} RHS, if conditions) — the
    // value must be a Jinja literal there
    var s = stmtSpanRe.replaceAllIn(sql0, span =>
      if (!span.matched.contains("config.")) Regex.quoteReplacement(span.matched)
      else Regex.quoteReplacement(configCallRe.replaceAllIn(span.matched, m => {
        val v = value(m.group(1), m.group(2), Option(m.group(3)).map(_.trim))
        Regex.quoteReplacement(
          if (v == "none") "none" else varLiteral(v, s"config.${m.group(1)}"))
      })))
    // interpolation sites splice bare text
    val interpRe = ("""\{\{\s*""" + configCallRe.pattern.pattern +
      """\s*\}\}""").r
    s = interpRe.replaceAllIn(s, m => {
      val v = value(m.group(1), m.group(2), Option(m.group(3)).map(_.trim))
      require(v != "none", s"config.get('${m.group(2)}') interpolated " +
        "with no value and no default")
      Regex.quoteReplacement(v)
    })
    s
  }

  // materialization-protocol sites the engine serves NATIVELY: hooks run
  // around the materialization (run_hooks strips), and the return value
  // is tracked by the engine (return strips; statement-call return()
  // splicing must not fire on a dict literal)
  private val runHooksSiteRe: Regex =
    """\{\{\s*run_hooks\([^)]*\)\s*\}\}|\{%-?\s*do\s+run_hooks\([^)]*\)\s*-?%\}""".r
  private val matReturnRe: Regex =
    ("""\{\{\s*return\(\s*((?:[^()']|'[^']*'|\([^()]*\))*)\s*\)\s*\}\}|""" +
      """\{%-?\s*do\s+return\(\s*((?:[^()']|'[^']*'|\([^()]*\))*)\s*\)\s*-?%\}""").r
  private val sqlSiteRe: Regex = """\{\{\s*sql\s*\}\}""".r

  /** Prepare a custom materialization body for the model-SQL compile
    * pipeline: bind `{{ sql }}` to the model's compiled SELECT, resolve
    * config.get/require against the model's config kvs, decide
    * should_full_refresh(), and strip the protocol sites the engine
    * serves natively (run_hooks, the return value). The result compiles
    * through the SAME introspection machinery as model SQL (with
    * fetchless statements deferred), then the engine executes the
    * surviving `{% call statement %}` blocks in document order.
    */
  def prepareMaterializationBody(body0: String, compiledSelect: String,
      configKv: Map[String, String], fullRefresh: Boolean): String = {
    var b = protectRawAndStripComments(body0)
    b = runHooksSiteRe.replaceAllIn(b, "")
    b = matReturnRe.replaceAllIn(b, "")
    // adapter.commit(): every engine statement commits through the
    // warehouse's own atomic machinery — the site is a no-op here
    b = ("""\{\{\s*adapter\.commit\(\s*\)\s*\}\}|""" +
      """\{%-?\s*do\s+adapter\.commit\(\s*\)\s*-?%\}""").r
      .replaceAllIn(b, "")
    b = b.replace("should_full_refresh()", fullRefresh.toString)
    b = resolveConfigCalls(b, configKv)
    sqlSiteRe.replaceAllIn(b, Regex.quoteReplacement(compiledSelect))
  }

  /** Split a rendered materialization into its ordered statement actions.
    * Returns (statements, leftover) — the leftover is everything outside
    * the statement blocks, which the ENGINE requires to be whitespace
    * (anything else is unsupported materialization surface and must fail
    * loudly, not be silently dropped).
    */
  def extractStatementBlocks(sql: String): (Seq[(String, String)], String) = {
    val stmts = Seq.newBuilder[(String, String)]
    val leftover = statementBlockRe.replaceAllIn(sql, m => {
      stmts += (m.group(1) -> m.group(3).trim)
      ""
    })
    (stmts.result(), leftover)
  }

  // `{% call set_sql_header(config) %} … {% endcall %}` (reference macro
  // `macro.dbt.set_sql_header`, manifest.json:1): the block's body is the
  // model's SQL header, captured at compile time and executed by the
  // engine as session-scoped statements BEFORE the model body
  private val sqlHeaderRe =
    """(?is)\{%-?\s*call\s+set_sql_header\(\s*config\s*\)\s*-?%\}(.*?)\{%-?\s*endcall\s*-?%\}""".r

  /** Split a model's raw SQL into (sql_header, body-without-the-block).
    * Multiple blocks concatenate in document order (dbt overwrites —
    * concatenation is the stricter, lossless reading).
    */
  def extractSqlHeader(rawSql: String): (Option[String], String) = {
    val headers = sqlHeaderRe.findAllMatchIn(rawSql).map(_.group(1).trim).toSeq
    if (headers.isEmpty) (None, rawSql)
    else (Some(headers.mkString("\n;\n")), sqlHeaderRe.replaceAllIn(rawSql, ""))
  }

  /** The raw key/value pairs of an inline `{{ config(...) }}` call —
    * the lookup surface behind a custom materialization's
    * config.get/require (applyConfigKv consumes the KNOWN keys; custom
    * materializations read arbitrary ones, e.g. insert_by_period's
    * `period`/`timestamp_field`).
    */
  def inlineConfigKvs(rawSql: String): Map[String, String] =
    configRe.findFirstMatchIn(rawSql).map(_.group(1)) match {
      case None => Map.empty
      case Some(body) =>
        splitArgs(body).iterator.flatMap { kv =>
          kv.split("=", 2) match {
            case Array(k0, v0) =>
              val (k, v) = (k0.trim, v0.trim)
              if (hookKeys.contains(k) && v.startsWith("["))
                Some(k -> parseListLiteral(v).map(stripQuotes)
                  .mkString(HookSep))
              else Some(k -> stripQuotes(v))
            case _ => None
          }
        }.toMap
    }

  // dbt docs blocks (`{% docs name %}…{% enddocs %}` in project .md
  // files) and their `{{ doc('name') }}` reference sites in
  // descriptions — the markdown-authored documentation surface behind
  // persist_docs (reference: dbt schema.yml description + docs blocks)
  private val docsBlockRe: Regex =
    """(?s)\{%-?\s*docs\s+([A-Za-z_]\w*)\s*-?%\}(.*?)\{%-?\s*enddocs\s*-?%\}""".r
  private val docRefRe: Regex =
    """\{\{\s*doc\(\s*'([^']+)'\s*\)\s*\}\}""".r

  /** Parse every `{% docs %}` block out of a markdown file's text. */
  def parseDocsBlocks(text: String): Seq[(String, String)] =
    docsBlockRe.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).trim).toSeq

  /** Substitute `{{ doc('name') }}` sites in a description against the
    * project's docs blocks; an unknown name fails loudly (dbt parse-time
    * behavior). Text without doc() sites passes through verbatim.
    */
  def resolveDocRefs(text: String, docs: Map[String, String]): String =
    docRefRe.replaceAllIn(text, m => Regex.quoteReplacement(
      docs.getOrElse(m.group(1), throw new IllegalArgumentException(
        s"doc('${m.group(1)}') has no {% docs %} block (defined: " +
          s"${docs.keys.toSeq.sorted.mkString(", ")})"))))

  /** Split a macro call's argument text at top-level commas (parens,
    * brackets, and single-quoted spans protect — a list argument like
    * `check_cols=['a','b']` stays one piece).
    */
  private[graft] def splitArgs(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0; var q: Char = 0 // current quote char, 0 = outside
    s.foreach {
      case c @ ('\'' | '"') =>
        if (q == 0) q = c else if (q == c) q = 0
        sb.append(c)
      case c @ ('(' | '[') if q == 0 => depth += 1; sb.append(c)
      case c @ (')' | ']') if q == 0 => depth -= 1; sb.append(c)
      case ',' if q == 0 && depth == 0 => out += sb.result(); sb.clear()
      case c => sb.append(c)
    }
    out += sb.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a `{% snapshot %}` block's `{{ config(...) }}` into a kv map
    * with list values flattened `|`-separated (`check_cols=['a','b']` →
    * `"a|b"`), the form the loader splits into a snapshot's unique
    * key and check columns.
    */
  def parseSnapshotConfig(rawSql: String): Map[String, String] =
    configRe.findFirstMatchIn(rawSql).map(_.group(1)).map { body =>
      splitArgs(body).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v0) =>
            val v = v0.trim
            val rendered =
              if (v.startsWith("[")) parseListLiteral(v).mkString("|")
              else stripQuotes(v)
            Some(k.trim -> rendered)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** Expand user-macro calls to their bound bodies, repeatedly (a macro
    * may call another), bounded by `maxDepth` against recursion. Calls
    * whose name is not a known macro pass through untouched — builtins
    * resolve later in [[compile]].
    */
  def expandMacros(sql0: String, macros: Map[String, MacroDef],
                   maxDepth: Int = 10): String = {
    // raw bodies must survive macro expansion verbatim, and a macro
    // call inside a comment must not expand (dbt parse semantics)
    val sql = protectRawAndStripComments(sql0)
    // with no macros loaded, a dispatch site still fails loudly inside
    // resolveDispatch (it can never resolve) instead of leaking Jinja
    if (macros.isEmpty)
      return if (sql.contains("adapter.dispatch")) resolveDispatch(sql, macros)
      else sql
    // bare names that exist ONLY under package namespaces, and in more
    // than one of them: calling one bare is ambiguous (the loader binds
    // a bare alias only for unambiguous package macros — dbt resolution
    // order, project over package)
    lazy val ambiguousBare: Map[String, Seq[String]] =
      macros.keys.filter(_.contains('.')).toSeq
        .groupBy(_.split("\\.", 2)(1))
        .collect { case (bare, pkgs) if !macros.contains(bare) && pkgs.size > 1 =>
          bare -> pkgs.map(_.split("\\.", 2)(0)).sorted
        }
    def failIfUnexpanded(s: String): String = {
      val calls = macroCallRe.findAllMatchIn(s).map(_.group(1)).toSeq
      // a bare call to a multiply-packaged macro can never expand — name
      // the candidate namespaces instead of leaking jinja to the parser
      calls.find(ambiguousBare.contains).foreach { n =>
        throw new IllegalArgumentException(
          s"macro '$n' is ambiguous — defined by packages " +
            s"${ambiguousBare(n).mkString(", ")}; qualify the call as " +
            s"'{{ <package>.$n(...) }}'")
      }
      // any surviving known-macro call means expansion cannot make
      // progress (self-expanding macro) or ran out of rounds — both are
      // authoring errors that must fail loudly, not reach the SQL parser
      val leftover = calls.filter(macros.contains)
      if (leftover.nonEmpty)
        throw new IllegalArgumentException(
          s"macro expansion did not terminate in $maxDepth rounds " +
            s"(recursive macros? ${leftover.distinct.mkString(", ")})")
      s
    }
    var cur = sql
    var depth = 0
    while (depth < maxDepth) {
      // dispatch resolves each round so dispatch sites INSIDE expanded
      // macro bodies (the dbt norm: a public macro dispatching its impl)
      // resolve on the following round
      val dispatched = resolveDispatch(cur, macros)
      // `{% call my_macro(args) %}body{% endcall %}`: the macro expands
      // with the BLOCK BODY bound at its `{{ caller() }}` sites — dbt's
      // wrapper-macro protocol (logging/auditing wrappers, custom
      // insert-by-period shells). `call statement(...)` is NOT a macro
      // call — it belongs to the introspection machinery and passes
      // through untouched. A macro without a caller() site discards the
      // body, exactly as Jinja does.
      val withBlocks =
        if (!dispatched.contains("{% call") && !dispatched.contains("{%- call"))
          dispatched
        else macroCallBlockRe.replaceAllIn(dispatched, m => {
          val name = m.group(1)
          if (name == "statement") Regex.quoteReplacement(m.matched)
          else Regex.quoteReplacement(macros.get(name) match {
            case None => m.matched
            case Some(mac) =>
              // the non-greedy body capture would split a NESTED call
              // block at the inner endcall and splice corrupted text —
              // refuse loudly instead (a statement block inside a
              // wrapper body is the common victim). Detect with the
              // same spacing tolerance macroCallBlockRe accepts, not a
              // literal substring.
              require(
                """\{%-?\s*call\b""".r.findFirstIn(m.group(3)).isEmpty,
                s"{% call $name(...) %}: nested {% call %} blocks are " +
                  "unsupported — move the inner call out of the wrapper " +
                  "body")
              callerSiteRe.replaceAllIn(
                expandOne(mac, splitArgs(m.group(2))),
                Regex.quoteReplacement(m.group(3)))
          })
        })
      val next = macroCallRe.replaceAllIn(withBlocks, m =>
        Regex.quoteReplacement(macros.get(m.group(1)) match {
          case None => m.matched
          case Some(mac) => expandOne(mac, splitArgs(m.group(2)))
        }))
      if (next == cur) return failIfUnexpanded(cur)
      cur = next
      depth += 1
    }
    failIfUnexpanded(cur)
  }

  // `{% call name(args) %}…{% endcall %}` — non-greedy to the FIRST
  // endcall (nested call blocks are out of scope; the inner open would
  // survive as leftover jinja and fail loudly downstream)
  private val macroCallBlockRe: Regex =
    ("""(?s)\{%-?\s*call\s+([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*""" +
      """\((.*?)\)\s*-?%\}(.*?)\{%-?\s*endcall\s*-?%\}""").r
  private val callerSiteRe: Regex = """\{\{\s*caller\(\s*\)\s*\}\}""".r

  private def expandOne(mac: MacroDef, args: Seq[String]): String = {
    val paramNames = mac.params.map(_._1).toSet
    val (kwArgs, positional) = args.partitionMap {
      case kwArgRe(k, v) if paramNames.contains(k) => Left(k -> v.trim)
      case a => Right(a)
    }
    val kw = kwArgs.toMap
    require(positional.size + kw.size == args.size &&
        positional.size <= mac.params.size,
      s"macro '${mac.name}' called with ${args.size} args, " +
        s"takes ${mac.params.size}")
    var body = mac.body
    mac.params.zipWithIndex.foreach { case ((p, dflt), i) =>
      val value =
        if (i < positional.size) positional(i)
        else kw.getOrElse(p, dflt.getOrElse(
          throw new IllegalArgumentException(
            s"macro '${mac.name}': missing argument '$p'")))
      // params interpolate with optional filter chains — the reference's
      // own macros lean on them ({{ data_type | lower }},
      // manifest.json:1 @13262 bq partition_by)
      body = substInterp(p, value, body)
    }
    body
  }

  /** `parquet.`/path/`` — Spark SQL's direct-path table syntax. */
  def pathRelation(path: String): String = s"parquet.`$path`"

  /** sha256 of the raw SQL — the reference's node checksum
    * (manifest.json:1 `checksum: {name: "sha256"}`), basis of
    * `state:modified` selection.
    */
  def checksum(rawSql: String): String =
    MessageDigest.getInstance("SHA-256").digest(rawSql.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
