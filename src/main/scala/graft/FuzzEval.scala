package graft

import org.apache.spark.sql.SparkSession

/** Differential-fuzz evaluator: reads one SQL expression per line from
  * args(0) (each already validated to run under DuckDB by
  * tools/fuzz_scalar.py), evaluates `SELECT (expr) AS v` through the
  * full Gateway dialect pipeline, and writes one JSON line per input to
  * args(1): {"i": n, "ok": true, "t": "<type>", "v": "<canonical>"} or
  * {"i": n, "ok": false, "err": "..."}. The python driver compares
  * against DuckDB's answer with type-aware tolerance.
  */
object FuzzEval {

  private def canon(v: Any): String = v match {
    case null => "NULL"
    // DuckDB's timestamp spelling ('1995-01-05 00:00:00'), not
    // LocalDateTime's ISO 'T' form or Timestamp's trailing '.0'
    case t: java.time.LocalDateTime =>
      val base = t.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
      val micros = t.getNano / 1000
      if (micros == 0) base
      else base + ("." + f"$micros%06d").reverse.dropWhile(_ == '0').reverse
    case t: java.sql.Timestamp =>
      t.toString.replaceAll("\\.0$", "")
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case f: Float => canon(f.toDouble)
    case d: Double =>
      if (d.isNaN) "nan"
      else if (d.isPosInfinity) "inf"
      else if (d.isNegInfinity) "-inf"
      else d.toString
    // Array[Byte] MUST precede the generic array cases: BINARY results
    // otherwise render as a signed-int list instead of hex (r10 audit)
    case b: Array[Byte] => b.map("%02X".format(_)).mkString
    case s: collection.Seq[_] => s.map(canon).mkString("[", ", ", "]")
    case a: Array[_] => a.map(canon).mkString("[", ", ", "]")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(canon).mkString("{", ", ", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${canon(k)}=${canon(x)}" }
        .sorted.mkString("{", ", ", "}")
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FuzzEval <exprFile> <outFile> [sfDir]")
    // optional fixture dir: the 10x scale pass points this at the
    // ScaleGen corpus so multi-partition effects (partial-agg ordering,
    // window partition boundaries) are inside the differential sweep
    val sfDir = if (args.length >= 3) args(2) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.timeType.enabled", "true")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val gw = graft.engine.Gateway.open(spark, sfDir)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(args(0)))
    val out = new java.io.PrintWriter(args(1), "UTF-8")
    def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ")
    var i = 0
    lines.forEach { expr =>
      if (expr.trim.nonEmpty) {
        try {
          // a full statement (after any leading block comments) runs
          // as-is (relational fuzzing); a bare expression wraps into a
          // one-row SELECT (scalar fuzzing)
          val isStmt = expr.trim.toUpperCase
            .matches("^(?:/\\*.*?\\*/\\s*)*(SELECT|WITH|VALUES|FROM)\\b.*")
          val df = if (isStmt) gw.sql(expr) else gw.sql(s"SELECT ($expr) AS v")
          val t = df.schema.map(_.dataType.simpleString).mkString(",")
          val rows = df.collect()
          val v =
            if (!isStmt) { if (rows.isEmpty) "NULL" else canon(rows.head.get(0)) }
            else rows.take(200).map(r =>
              r.toSeq.map(canon).mkString(", ")).mkString(" ; ") +
              s" #${rows.length}"
          out.println(s"""{"i": $i, "ok": true, "t": "${esc(t)}", "v": "${esc(v)}"}""")
        } catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            out.println(s"""{"i": $i, "ok": false, "err": "${esc(msg.take(160))}"}""")
        }
      } else out.println(s"""{"i": $i, "ok": false, "err": "empty"}""")
      i += 1
    }
    out.close()
    spark.stop()
  }
}
