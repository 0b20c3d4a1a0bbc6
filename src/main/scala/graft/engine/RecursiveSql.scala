package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text path for `WITH RECURSIVE … UNION …` statements.
  *
  * Spark 4.1 ships native recursive CTEs but only for UNION ALL
  * recursion ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]); the reference's
  * dialect (DuckDB, /root/reference/main.go:229) also accepts bare
  * UNION, whose semantics — the working table is each round's NEW
  * distinct rows, recursion stops when a round adds nothing — are
  * exactly the semi-naive fixpoint `Recursive.fixpoint` already runs
  * for the DataFrame form. This object parses the statement just enough
  * to drive that fixpoint from SQL text:
  *
  *   WITH RECURSIVE a AS (…), r(cols) AS (seed UNION step), b AS (…)
  *   outer-select
  *
  * One self-referencing CTE is supported (the common linear-recursion
  * shape); statements whose recursion is UNION ALL, or with no
  * self-reference at all, are NOT handled here — the caller passes them
  * to Spark's native path. Scanning goes through Dialect's lexer, so
  * literals, quoted identifiers and comments containing `UNION`, parens
  * or quotes can't derail the split.
  */
object RecursiveSql {

  final case class Cte(name: String, cols: Seq[String], body: String) {
    def selfRefs: Boolean = RecursiveSql.refs(body, name)
  }
  final case class Parsed(ctes: Seq[Cte], outer: String)

  private val prefixRe = """(?is)WITH\s+RECURSIVE\s""".r

  /** Index just past a leading `WITH RECURSIVE`, after any comments. */
  private def prefixEnd(sql: String): Option[Int] = {
    val m = prefixRe.pattern.matcher(sql).region(Dialect.skipBlank(sql, 0), sql.length)
    if (m.lookingAt()) Some(m.end) else None
  }

  def isRecursive(sql: String): Boolean = prefixEnd(sql).isDefined

  /** Whole-word reference to `name` outside literals, quoted
    * identifiers and comments, at any depth. */
  private def refs(sql: String, name: String): Boolean =
    Dialect.keywordMatches(sql,
      ("(?i)" + java.util.regex.Pattern.quote(name) + """(?![\w"])""").r,
      topLevel = false).nonEmpty

  /** Parse the CTE list and outer query. Returns None when the text
    * doesn't scan as a WITH RECURSIVE statement (caller falls back to
    * the native parser, which will produce the real error message).
    */
  def parse(sql: String): Option[Parsed] = prefixEnd(sql).map { start =>
    var i = start
    val n = sql.length
    def skipBlank(): Unit = i = Dialect.skipBlank(sql, i)
    def ident(): String = {
      skipBlank()
      val start = i
      val quoted = i < n && sql(i) == '"'
      if (quoted) i = Dialect.consumeOpaque(sql, i, null)
      else while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
      if (quoted) sql.substring(start + 1, i - 1) else sql.substring(start, i)
    }
    // an opening paren to its match → the comma-split contents and body
    def parenBlock(): (Seq[String], String) = {
      skipBlank()
      require(i < n && sql(i) == '(', s"expected '(' at $i")
      val (parts, end) = Dialect.splitCallArgs(sql, i).getOrElse(
        throw new IllegalArgumentException("unbalanced parens in WITH RECURSIVE"))
      val body = sql.substring(i + 1, end - 1)
      i = end
      (parts, body)
    }
    val ctes = scala.collection.mutable.ArrayBuffer.empty[Cte]
    var more = true
    while (more) {
      val name = ident()
      require(name.nonEmpty, "expected CTE name")
      skipBlank()
      val cols =
        if (i < n && sql(i) == '(')
          parenBlock()._1.map(_.trim.stripPrefix("\"").stripSuffix("\""))
        else Seq.empty
      skipBlank()
      require(sql.regionMatches(true, i, "AS", 0, 2), s"expected AS after CTE $name")
      i += 2
      ctes += Cte(name, cols, parenBlock()._2)
      skipBlank()
      if (i < n && sql(i) == ',') { i += 1 } else more = false
    }
    Parsed(ctes.toSeq, sql.substring(i).trim)
  }

  /** Split a CTE body at top-level bare `UNION` boundaries (UNION ALL
    * stays inside a branch — it's plain set union within seed or step).
    */
  private[engine] def unionBranches(body: String): Seq[String] = {
    val cuts = Dialect.keywordMatches(body, bareUnionRe)
    val starts = 0 +: cuts.map(_.end)
    val ends = cuts.map(_.start) :+ body.length
    starts.zip(ends).map { case (a, b) => body.substring(a, b).trim }
  }

  private val bareUnionRe = """(?i)UNION\b(?!\s+ALL\b)""".r

  /** True when this statement needs the fixpoint path: exactly one
    * self-referencing CTE whose body splits on a top-level bare UNION.
    */
  def needsFixpoint(p: Parsed): Boolean = {
    val rec = p.ctes.filter(_.selfRefs)
    rec.length == 1 && unionBranches(rec.head.body).length > 1
  }

  /** Execute via Recursive.fixpoint on the given session. Non-recursive
    * CTEs and the accumulated recursive relation are registered as temp
    * views for the duration of ANALYSIS only — plans are inlined at
    * analysis time, so views are dropped (and any shadowed temp views
    * restored) before the result is returned. Synchronized per session:
    * two concurrent statements defining the same CTE name must not race
    * on the shared temp-view namespace.
    */
  def run(session: SparkSession, p: Parsed, maxIter: Int = 200): DataFrame = {
    // parse the outer statement first: the session parser's read-only
    // guard refuses a write (WITH RECURSIVE … INSERT …) before any
    // fixpoint job starts
    session.sessionState.sqlParser.parsePlan(p.outer)
    session.synchronized {
      val rec = p.ctes.filter(_.selfRefs) match {
        case Seq(one) => one
        case many => throw new GatewayException(
          s"WITH RECURSIVE: expected exactly one self-referencing CTE, " +
            s"found ${many.map(_.name).mkString("[", ", ", "]")}")
      }
      val branches = unionBranches(rec.body)
      val (stepSqls, seedSqls) = branches.partition(refs(_, rec.name))
      if (seedSqls.isEmpty)
        throw new GatewayException(
          s"WITH RECURSIVE ${rec.name}: no non-recursive seed branch")
      val names = p.ctes.map(_.name)
      val shadowed = names.flatMap { nm =>
        if (session.catalog.tableExists(nm) &&
            session.catalog.getTable(nm).isTemporary)
          Some(nm -> session.table(nm))
        else None
      }
      try {
        // non-recursive CTEs first, in order (later ones may read earlier)
        p.ctes.filterNot(_.selfRefs).foreach { c =>
          val df0 = session.sql(c.body)
          val df = if (c.cols.nonEmpty) df0.toDF(c.cols: _*) else df0
          df.createOrReplaceTempView(c.name)
        }
        def named(df: DataFrame): DataFrame =
          if (rec.cols.nonEmpty) df.toDF(rec.cols: _*) else df
        val seed = named(seedSqls.map(session.sql).reduce(_ union _))
        val result = Recursive.fixpoint(seed, maxIter = maxIter) { frontier =>
          // analysis inlines the frontier's plan into each step — the
          // view is re-pointed per application, never read lazily
          frontier.createOrReplaceTempView(rec.name)
          named(stepSqls.map(session.sql).reduce(_ union _))
        }
        result.createOrReplaceTempView(rec.name)
        val out = session.sql(p.outer)
        out.queryExecution.assertAnalyzed()
        out
      } finally {
        names.foreach(session.catalog.dropTempView)
        shadowed.foreach { case (nm, df) => df.createOrReplaceTempView(nm) }
      }
    }
  }
}
