package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Dialect, Q}

/** Scalar function families — SURVEY.md §2.8. Each query sweeps one
  * family over a small fixture table; all are narrow, codegen'd
  * projections (no shuffle beyond the final ORDER BY).
  *
  * Name shims vs DuckDB are resolved inline here (e.g. `string_split` →
  * `split`, `list_aggregate('sum')` → `aggregate` HOF, strftime → JDK
  * format via Dialect.strftimeToJava); divergent-semantics functions are
  * aligned explicitly (dow offsets, regexp_replace global flag).
  */
object FunctionQueries {

  /** Math family (SURVEY §2.8; reference's advertised list
    * /root/reference/main.go:515-519). Trig/exp rounded: last-ulp libm
    * differences between JVM Math and C libm.
    */
  val fMath = Q(
    "f_math",
    """SELECT n_nationkey AS k,
      |  abs(n_nationkey - 12) AS absv,
      |  CAST(sign(n_nationkey - 12.0) AS DOUBLE) AS sgn,
      |  CAST(floor(n_nationkey / 4.0) AS BIGINT) AS flr,
      |  CAST(ceil(n_nationkey / 4.0) AS BIGINT) AS cil,
      |  sqrt(n_nationkey) AS sq,
      |  ROUND(exp(n_nationkey / 10.0), 6) AS ex,
      |  ROUND(ln(n_nationkey + 1.0), 6) AS lnv,
      |  ROUND(log10(n_nationkey + 1.0), 6) AS lg10,
      |  ROUND(log2(n_nationkey + 1.0), 6) AS lg2,
      |  ROUND(pow(n_nationkey, 2.0), 6) AS p2,
      |  mod(n_nationkey, 7) AS md,
      |  CAST(n_nationkey // 7 AS BIGINT) AS idiv,
      |  ROUND(sin(n_nationkey), 6) AS sn,
      |  ROUND(cos(n_nationkey), 6) AS cs,
      |  ROUND(atan(n_nationkey), 6) AS at,
      |  ROUND(degrees(n_nationkey), 6) AS dg,
      |  ROUND(radians(n_nationkey), 6) AS rd,
      |  ROUND(cbrt(n_nationkey), 6) AS cb,
      |  CAST(factorial(n_nationkey % 6) AS BIGINT) AS fact,
      |  CAST(factorial(20 + n_nationkey % 14) AS VARCHAR) AS bigfact,
      |  ROUND(pi(), 6) AS piv
      |FROM nation ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    val k = col("n_nationkey")
    s.table("nation").select(
      k.as("k"),
      abs(k - 12).as("absv"),
      signum(k - 12.0).as("sgn"),
      floor(k / 4.0).as("flr"),
      ceil(k / 4.0).as("cil"),
      sqrt(k).as("sq"),
      round(exp(k / 10.0), 6).as("ex"),
      round(log(k + 1.0), 6).as("lnv"),
      round(log10(k + 1.0), 6).as("lg10"),
      round(log2(k + 1.0), 6).as("lg2"),
      round(pow(k, 2.0), 6).as("p2"),
      (k % 7).as("md"),
      floor(k / 7).cast(LongType).as("idiv"),
      round(sin(k), 6).as("sn"),
      round(cos(k), 6).as("cs"),
      round(atan(k), 6).as("at"),
      round(degrees(k), 6).as("dg"),
      round(radians(k), 6).as("rd"),
      round(cbrt(k), 6).as("cb"),
      // cast pins BIGINT whatever `factorial` resolves to (the oracle
      // declares CAST(... AS BIGINT); the dialect's DECIMAL(38,0)
      // HUGEINT carrier lives on isolated sessions only — r8 regression)
      factorial(k % 6).cast(LongType).as("fact"),
      // HUGEINT-domain factorial (20!..33!): values Spark's BIGINT
      // builtin can't hold — the engine's Factorial38 kernel. Output is
      // VARCHAR (exact digits), never DECIMAL: the driver comparator
      // materializes DuckDB DECIMAL as float64 but Spark decimal128 as
      // Decimal objects — a dtype-kind hash mismatch on identical values.
      graft.engine.GraftColumns.factorialHuge((k % 14) + 20)
        .cast(StringType).as("bigfact"),
      round(lit(math.Pi), 6).as("piv"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** String family (reference's advertised list main.go:520-521 + core). */
  val fString = Q(
    "f_string",
    """SELECT p_partkey AS k,
      |  substr(p_name, 1, 4) AS sub,
      |  upper(p_name) AS up, lower(p_brand) AS lo,
      |  length(p_name) AS len,
      |  replace(p_name, ' ', '_') AS repl,
      |  instr(p_name, 'e') AS ins,
      |  trim('  ' || p_name || ' ') AS trm,
      |  ltrim('xx' || p_name, 'x') AS ltr,
      |  rtrim(p_name || 'zz', 'z') AS rtr,
      |  lpad(p_brand, 10, '*') AS lp, rpad(p_brand, 10, '*') AS rp,
      |  left(p_name, 3) AS lft, right(p_name, 3) AS rgt,
      |  reverse(p_name) AS rev, repeat(p_type, 2) AS rep,
      |  split_part(p_name, ' ', 2) AS sp2,
      |  concat_ws('/', p_brand, p_type) AS cw,
      |  p_brand || ':' || p_type AS cat,
      |  starts_with(p_name, 'red') AS sw,
      |  contains(p_name, 'idg') AS ct,
      |  position('a' IN p_name) AS pos
      |FROM part ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    val n = col("p_name")
    s.table("part").select(
      col("p_partkey").as("k"),
      substring(n, 1, 4).as("sub"),
      upper(n).as("up"), lower(col("p_brand")).as("lo"),
      length(n).as("len"),
      regexp_replace(n, " ", "_").as("repl"),
      instr(n, "e").as("ins"),
      trim(concat(lit("  "), n, lit(" "))).as("trm"),
      ltrim(concat(lit("xx"), n), "x").as("ltr"),
      rtrim(concat(n, lit("zz")), "z").as("rtr"),
      lpad(col("p_brand"), 10, "*").as("lp"), rpad(col("p_brand"), 10, "*").as("rp"),
      substring(n, 1, 3).as("lft"), expr("right(p_name, 3)").as("rgt"),
      reverse(n).as("rev"), repeat(col("p_type"), 2).as("rep"),
      expr("split_part(p_name, ' ', 2)").as("sp2"),
      concat_ws("/", col("p_brand"), col("p_type")).as("cw"),
      concat(col("p_brand"), lit(":"), col("p_type")).as("cat"),
      n.startsWith("red").as("sw"),
      n.contains("idg").as("ct"),
      instr(n, "a").as("pos"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** String distance + hash/codec family. `jaccard` is DuckDB's char-set
    * definition, composed from Spark array ops (SURVEY §2.8 [custom]).
    */
  val fString2 = Q(
    "f_string_distance_hash",
    """SELECT p_partkey AS k,
      |  levenshtein(p_name, p_type) AS lev,
      |  ROUND(jaccard(lower(p_name), lower(p_brand)), 6) AS jac,
      |  hamming(substr(p_name, 1, 3), substr(p_type, 1, 3)) AS ham,
      |  ROUND(jaro_similarity(p_name, p_type), 6) AS jaro,
      |  ROUND(jaro_winkler_similarity(p_name, p_type), 6) AS jw,
      |  md5(p_name) AS m5,
      |  sha256(p_name) AS sh2,
      |  to_base64(encode(p_name)) AS b64
      |FROM part ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    // char-set jaccard: distinct chars of each side, |∩| / |∪|
    def charset(c: org.apache.spark.sql.Column) = array_distinct(split(c, ""))
    val a = charset(lower(col("p_name")))
    val b = charset(lower(col("p_brand")))
    s.table("part").select(
      col("p_partkey").as("k"),
      levenshtein(col("p_name"), col("p_type")).as("lev"),
      round(
        size(array_intersect(a, b)).cast(DoubleType) /
          size(array_union(a, b)).cast(DoubleType), 6).as("jac"),
      size(filter(
        zip_with(split(substring(col("p_name"), 1, 3), ""),
          split(substring(col("p_type"), 1, 3), ""),
          (x, y) => x =!= y),
        v => v)).as("ham"),
      round(graft.engine.GraftColumns.jaro(col("p_name"), col("p_type")), 6).as("jaro"),
      round(graft.engine.GraftColumns.jaroWinkler(col("p_name"), col("p_type")), 6).as("jw"),
      md5(col("p_name")).as("m5"),
      sha2(col("p_name"), 256).as("sh2"),
      base64(col("p_name").cast(BinaryType)).as("b64"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** Regex family — note DuckDB regexp_replace needs 'g' to match
    * Spark's replace-all default; extract group indices aligned.
    */
  val fRegex = Q(
    "f_regex",
    """SELECT p_partkey AS k,
      |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 1) AS word1,
      |  regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS word2,
      |  regexp_replace(p_name, '[aeiou]', '#', 'g') AS novowel,
      |  regexp_matches(p_name, '^(red|blue)') AS is_color,
      |  CAST(to_json(regexp_extract_all(p_name, '[a-z]+', 0)) AS VARCHAR) AS words
      |FROM part ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("part").select(
      col("p_partkey").as("k"),
      regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 1).as("word1"),
      regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("word2"),
      regexp_replace(col("p_name"), "[aeiou]", "#").as("novowel"),
      col("p_name").rlike("^(red|blue)").as("is_color"),
      // serialized: the verify gate row-sorts with pandas, which cannot
      // sort raw array cells — JSON text compares byte-identically instead
      to_json(expr("regexp_extract_all(p_name, '[a-z]+', 0)")).as("words"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** Date/time family over µs-normalized event timestamps. */
  val fDatetime = Q(
    "f_datetime",
    """SELECT event_id AS k,
      |  date_trunc('hour', ts) AS ts_hour,
      |  date_trunc('day', ts) AS ts_day,
      |  CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS mo,
      |  CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
      |  CAST(minute(ts) AS INT) AS mi, CAST(extract(second FROM ts) AS INT) AS sec,
      |  CAST(isodow(ts) AS INT) AS idow, CAST(dayofyear(ts) AS INT) AS doy,
      |  CAST(week(ts) AS INT) AS wk,
      |  last_day(CAST(ts AS DATE)) AS eom,
      |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS days_in,
      |  ts + INTERVAL '3' DAY AS ts3d,
      |  epoch(ts) AS ep,
      |  epoch_ms(ts) AS epms,
      |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
      |  strptime(strftime(ts, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M') AS reparsed,
      |  make_date(2024, CAST(month(ts) AS INT), 1) AS mdate,
      |  time_bucket(INTERVAL '15 minutes', ts) AS bucket15
      |FROM events ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    val ts = col("ts")
    val fmt = Dialect.strftimeToJava("%Y-%m-%d %H:%M")
    s.table("events").select(
      col("event_id").as("k"),
      // date_trunc resolves to instant TimestampType even on NTZ input;
      // cast back so the output edge stays NTZ like the fixture (the
      // oracle's naive timestamp) — OutputContract gate
      date_trunc("hour", ts).cast(TimestampNTZType).as("ts_hour"),
      date_trunc("day", ts).cast(TimestampNTZType).as("ts_day"),
      year(ts).as("y"), month(ts).as("mo"),
      dayofmonth(ts).as("d"), hour(ts).as("h"),
      minute(ts).as("mi"), second(ts).as("sec"),
      (weekday(ts) + 1).as("idow"), dayofyear(ts).as("doy"),
      weekofyear(ts).as("wk"),
      last_day(ts.cast(DateType)).as("eom"),
      datediff(ts.cast(DateType), lit("2024-01-01").cast(DateType)).as("days_in"),
      (ts + expr("INTERVAL 3 DAY")).as("ts3d"),
      (unix_micros(ts.cast(TimestampType)).cast(DoubleType) / 1e6).as("ep"),
      unix_millis(ts.cast(TimestampType)).as("epms"),
      date_format(ts, fmt).as("fmt"),
      to_timestamp_ntz(date_format(ts, fmt), lit(fmt)).as("reparsed"),
      make_date(lit(2024), month(ts), lit(1)).as("mdate"),
      window(ts, "15 minutes").getField("start").as("bucket15"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** List/array family with lambdas (HOFs); 1-based indexing matches. */
  val fList = Q(
    "f_list",
    """SELECT p_partkey AS k,
      |  CAST(to_json([p_size, p_size * 2, p_size + 5, 1]) AS VARCHAR) AS l,
      |  CAST(to_json(list_transform([p_size, p_size * 2], x -> x + 1)) AS VARCHAR) AS l_add,
      |  CAST(to_json(list_filter([p_size, p_size * 2, 1], x -> x > 5)) AS VARCHAR) AS l_big,
      |  CAST(list_aggregate([p_size, p_size * 2, 3], 'sum') AS INT) AS l_sum,
      |  CAST(to_json(list_sort([p_size % 7, p_size % 3, p_size % 5])) AS VARCHAR) AS l_sorted,
      |  CAST(to_json(list_sort(list_distinct([p_size % 3, p_size % 3, p_size % 5]))) AS VARCHAR) AS l_dist,
      |  list_contains([p_size, 42], 42) AS has42,
      |  len([p_size, p_size]) AS l_len,
      |  CAST(to_json(list_concat([p_size], [p_size + 1])) AS VARCHAR) AS l_cat,
      |  [p_size, p_size * 2, p_size + 5][2] AS elem2,
      |  CAST(to_json(list_slice([p_size, p_size * 2, p_size + 5, 1], 2, 3)) AS VARCHAR) AS l_slice,
      |  CAST(to_json(generate_series(1, 1 + p_size % 4)) AS VARCHAR) AS ser
      |FROM part ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    // array results serialized to JSON text on the compare surface (both
    // sides) — the verify gate row-sorts with pandas, which cannot sort
    // raw array cells; formats match byte-for-byte ([1,2] / ["a","b"]).
    val sz = col("p_size")
    s.table("part").select(
      col("p_partkey").as("k"),
      to_json(array(sz, sz * 2, sz + 5, lit(1))).as("l"),
      to_json(transform(array(sz, sz * 2), x => x + 1)).as("l_add"),
      to_json(filter(array(sz, sz * 2, lit(1)), x => x > 5)).as("l_big"),
      aggregate(array(sz, sz * 2, lit(3)), lit(0), (acc, x) => acc + x).as("l_sum"),
      to_json(sort_array(array(sz % 7, sz % 3, sz % 5))).as("l_sorted"),
      to_json(sort_array(array_distinct(array(sz % 3, sz % 3, sz % 5)))).as("l_dist"),
      array_contains(array(sz, lit(42)), 42).as("has42"),
      size(array(sz, sz)).as("l_len"),
      to_json(concat(array(sz), array(sz + 1))).as("l_cat"),
      element_at(array(sz, sz * 2, sz + 5), 2).as("elem2"),
      to_json(slice(array(sz, sz * 2, sz + 5, lit(1)), 2, 2)).as("l_slice"),
      to_json(sequence(lit(1), lit(1) + sz % 4)).as("ser"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** Struct + map family. Raw MAP output shapes differ across the
    * parquet/pandas boundary, so maps are observed via keys/values/
    * cardinality; structs compare directly.
    */
  val fStructMap = Q(
    "f_struct_map",
    """SELECT s_suppkey AS k,
      |  CAST(to_json(struct_pack(key := s_suppkey, nat := s_nationkey)) AS VARCHAR) AS st,
      |  struct_pack(key := s_suppkey, nat := s_nationkey).nat AS st_field,
      |  CAST(to_json(list_sort(map_keys(MAP {'a': s_suppkey, 'b': s_nationkey}))) AS VARCHAR) AS mkeys,
      |  CAST(cardinality(MAP {'a': s_suppkey}) AS INT) AS msize,
      |  (MAP {'a': s_suppkey, 'b': s_nationkey})['b'][1] AS mval
      |FROM supplier ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    // struct/array outputs JSON-serialized on both sides (pandas row-sort
    // in the verify gate cannot sort raw struct/array cells)
    s.table("supplier").select(
      col("s_suppkey").as("k"),
      to_json(struct(col("s_suppkey").as("key"), col("s_nationkey").as("nat"))).as("st"),
      struct(col("s_suppkey").as("key"), col("s_nationkey").as("nat"))
        .getField("nat").as("st_field"),
      to_json(sort_array(map_keys(map(lit("a"), col("s_suppkey"), lit("b"), col("s_nationkey")))))
        .as("mkeys"),
      size(map(lit("a"), col("s_suppkey"))).as("msize"),
      element_at(map(lit("a"), col("s_suppkey"), lit("b"), col("s_nationkey")), "b")
        .as("mval"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** JSON family over events.props (`{"k": 87}` strings). */
  val fJson = Q(
    "f_json",
    """SELECT event_id AS k,
      |  json_extract_string(props, '$.k') AS kv,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS kv_int,
      |  json_valid(props) AS ok,
      |  json_valid('x[' || props) AS bad,
      |  CAST(json_array_length('[1,2,3]') AS INT) AS alen,
      |  CAST(to_json(struct_pack(a := event_type, b := user_id)) AS VARCHAR) AS j
      |FROM events WHERE event_id < 1000
      |ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    s.table("events").filter(col("event_id") < 1000).select(
      col("event_id").as("k"),
      get_json_object(col("props"), "$.k").as("kv"),
      get_json_object(col("props"), "$.k").cast(IntegerType).as("kv_int"),
      expr("isnotnull(try_parse_json(props))").as("ok"),
      expr("isnotnull(try_parse_json('x[' || props))").as("bad"),
      json_array_length(lit("[1,2,3]")).as("alen"),
      to_json(struct(col("event_type").as("a"), col("user_id").as("b"))).as("j"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  /** Round-6 JSON introspection family (json_type / json_structure /
    * json_merge_patch / json_contains, `expressions/JsonIntrospect`
    * kernels) plus nfc_normalize/format_bytes: ONE SQL text runs on
    * both engines — the Spark side resolves the graft name shims to
    * the same DuckDB-pinned semantics the oracle computes natively.
    */
  val fJsonIntrospect: Q = {
    val sqlText =
      """SELECT event_id AS k,
        |  json_type(props) AS jt,
        |  json_type(props, '$.k') AS jtk,
        |  json_structure(props) AS js,
        |  json_merge_patch(props, '{"v":2}') AS jm,
        |  json_contains(props, '{"k":87}') AS jc,
        |  nfc_normalize('café') AS nrm,
        |  format_bytes(event_id * 1000) AS fb
        |FROM events WHERE event_id < 1000
        |ORDER BY k ASC NULLS LAST""".stripMargin
    // dialect SQL (json_type/json_structure/… are registry shims) runs
    // on an ISOLATED child session — registering on the shared Verify
    // session raced concurrent planning and flipped f_math's factorial
    // resolution mid-run (r8 regression, VERDICT r8 item 1)
    graft.engine.Q("f_json_introspect", (s, dir) =>
      graft.engine.Functions.isolated(s, dir, "events").sql(sqlText),
      Some(sqlText))
  }

  /** JSON constructor family (round 9, probe-19 surface): canonical
    * json(), json_quote, json_array/json_object built from per-element
    * JSON text forms, and JSON-POINTER extraction — all scalar per-row
    * projections (deterministic; the group aggregates json_group_* are
    * ORDER-nondeterministic under parallel collect and stay spec-pinned
    * instead). Dialect SQL → isolated child session, same as
    * f_json_introspect.
    */
  val fJsonCtor: Q = {
    val sqlText =
      """SELECT event_id AS k,
        |  json(props) AS canon,
        |  json_quote(event_type) AS jq,
        |  json_array(event_id % 5, event_type) AS ja,
        |  json_object('t', event_type, 'v', event_id % 7) AS jo,
        |  json_extract(props, '/k') AS ptr
        |FROM events WHERE event_id < 1000
        |ORDER BY k ASC NULLS LAST""".stripMargin
    graft.engine.Q("f_json_ctor", (s, dir) =>
      graft.engine.Functions.isolated(s, dir, "events").sql(sqlText),
      Some(sqlText))
  }

  /** json_group_structure (r12: the true merged-structure AGGREGATE —
    * `expressions/DuckAggs.JsonGroupStructureAgg`, one tree of state
    * per group) plus the `::JSON` / `CAST(AS JSON)` dialect cast
    * (validating identity for VARCHAR). Determinism by construction:
    * the three object shapes list their shared keys in the same
    * relative order and each shape's extra keys extend the previous
    * one's, so first-seen key order is merge-order independent, and
    * the type lattice join is commutative — safe under partial
    * aggregation at any partitioning.
    */
  val fJsonGroup: Q = {
    val sqlText =
      """WITH docs AS (
        |  SELECT event_id, event_type AS g,
        |    CASE CAST(event_id % 4 AS INT)
        |      WHEN 0 THEN '{"a":' || CAST(event_id % 7 AS VARCHAR) || ',"b":"' || event_type || '"}'
        |      WHEN 1 THEN '{"a":' || CAST(event_id % 5 AS VARCHAR) || '.5,"b":"x","c":[1,2]}'
        |      WHEN 2 THEN '{"a":null,"b":"y","c":[1.5],"d":{"e":true}}'
        |      ELSE 'null' END AS j
        |  FROM events WHERE event_id < 2000)
        |SELECT g,
        |  json_group_structure(j::JSON) AS s,
        |  json_group_structure((CASE WHEN event_id % 4 = 2 THEN j END)::JSON) AS s_sparse,
        |  MAX(json_structure(('[null,{"q":' || CAST(length(g) AS VARCHAR) || '}]')::JSON)) AS s_null_elem,
        |  BOOL_AND(TRY_CAST('nope' AS JSON) IS NULL) AS bad_is_null
        |FROM docs GROUP BY g ORDER BY g ASC NULLS LAST""".stripMargin
    // unlike the sibling f_json_* (pure registry shims), this text
    // carries DIALECT SYNTAX (`::JSON`, TRY_CAST AS JSON) — the
    // isolated session's .sql sees raw Spark SQL, so translate it the
    // way the dialect parser would; the oracle gets the original text
    graft.engine.Q("f_json_group", (s, dir) =>
      graft.engine.Functions.isolated(s, dir, "events")
        .sql(graft.engine.GraftSqlParser.toSpark(sqlText)),
      Some(sqlText))
  }

  /** TIME family (round 7): Spark 4.1's native TimeType (behind
    * spark.sql.timeType.enabled, which the builder switches on) carries
    * DuckDB's `ts::TIME` time-of-day projection through extraction and
    * arithmetic. The TIME column lives INSIDE the plan; the comparable
    * output edge is integer microseconds (DuckDB datediff µs vs Spark's
    * exact TIME→DECIMAL(20,6) seconds-of-day ×1e6) — TIME itself has no
    * parquet encoding for the verify gate to hash.
    */
  val fTime = Q(
    "f_time",
    """SELECT event_id AS k,
      |  datediff('microseconds', TIME '00:00:00', CAST(ts AS TIME)) AS us_of_day,
      |  CAST(hour(CAST(ts AS TIME)) AS INT) AS h,
      |  CAST(minute(CAST(ts AS TIME)) AS INT) AS mi,
      |  CAST(datepart('microsecond', CAST(ts AS TIME)) AS BIGINT) AS us_in_min
      |FROM events ORDER BY k ASC NULLS LAST""".stripMargin
  ) { s =>
    // spark.sql.timeType.enabled is a session-builder concern: Gateway
    // sets it for serving sessions (Gateway.scala:960) and Verify/Bench
    // set it in their builders — mutating shared-session conf here would
    // race with Bench's concurrent statement workers
    val t = expr("to_time(date_format(ts, 'HH:mm:ss.SSSSSS'))")
    s.table("events")
      .select(col("event_id").as("k"), t.as("t"))
      .select(col("k"),
        (col("t").cast(DecimalType(20, 6)) * 1000000)
          .cast(LongType).as("us_of_day"),
        hour(col("t")).cast(IntegerType).as("h"),
        minute(col("t")).cast(IntegerType).as("mi"),
        // DuckDB's microsecond part is sub-MINUTE µs (seconds ×1e6 + µs)
        (expr("extract(SECOND FROM t)") * 1000000).cast(LongType).as("us_in_min"))
      .transform(graft.engine.Par.preSort(_, col("k"))) // preSort (r18): no range-sampling re-exec
      .orderBy(col("k").asc_nulls_last)
  }

  val all: Seq[Q] = Seq(
    fMath, fString, fString2, fRegex, fDatetime, fList, fStructMap, fJson,
    fJsonIntrospect, fJsonCtor, fJsonGroup, fTime)
}
