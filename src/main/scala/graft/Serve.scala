package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import graft.engine.Gateway

/** Network serving entry point — the reference's client-server role
  * (Arrow Flight SQL on :32010, /root/reference/main.go:254-258), served
  * on BOTH wire protocols:
  *
  *  - the reference's own: Arrow Flight (SQL) gRPC on
  *    SPARK_GRAFT_FLIGHT_PORT (default 32010, main.go:254) — the
  *    reference's pyarrow/ADBC smoke clients connect unchanged
  *    (graft.flight.FlightServer);
  *  - Spark's native: a HiveServer2-compatible Thrift JDBC/ODBC endpoint
  *    (BASELINE.json "spark_approach": Spark SQL + JDBC/Thrift server).
  *
  * Any client can run the reference's smoke queries unchanged:
  *   SELECT 1 AS a                                   (client/main.py:11)
  *   SELECT extension_name FROM duckdb_extensions()  (client/main.go:27)
  *
  * Usage: runMain graft.Serve [dataDir]  (ports: SPARK_GRAFT_THRIFT_PORT
  * default 10000, SPARK_GRAFT_FLIGHT_PORT default 32010; blocks until
  * killed).
  */
object Serve {
  /** Start both servers on the gateway's session; returns the gateway
    * and the Flight server for tests to stop.
    */
  def start(spark: SparkSession, dataDir: String,
      flightPort: Int = 32010,
      attachAllow: Seq[String] = Nil): (Gateway, graft.flight.FlightServer) = {
    // ATTACH of remote Flight catalogs is operator-gated (SSRF): only
    // endpoints listed here (SPARK_GRAFT_ATTACH_ALLOW) or statements in
    // the init script may attach — client sessions cannot widen the list
    val gw = Gateway.open(spark, dataDir, attachAllow = attachAllow)
    // Gateway.open sets spark.graft.readOnly on this session, so the
    // injected GraftSqlParser (ReadOnlyGuard) rejects write/DDL statements
    // from Thrift and Flight clients alike — the one read-only check
    val classic = gw.session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    HiveThriftServer2.startWithSparkSession(classic, exitOnError = false)
    val flight = graft.flight.FlightServer.start(gw, flightPort)
    (gw, flight)
  }

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val port = sys.env.getOrElse("SPARK_GRAFT_THRIFT_PORT", "10000")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // one shared session: thrift client sessions see the gateway's
      // registered temp views (the fixture tables)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      // DuckDB dialect at the parser level, so raw JDBC SQL (which never
      // passes through Gateway.sql) still gets the rewrites
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      // ANSI on by default (SURVEY §7.3): DuckDB errors on overflow and
      // invalid casts; so should the serving engine. SPARK_GRAFT_ANSI=false
      // opts back into Spark's permissive NULL-on-error behavior.
      .config("spark.sql.ansi.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ANSI", "true"))
      .config("hive.server2.thrift.port", port)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val flightPort = sys.env.getOrElse("SPARK_GRAFT_FLIGHT_PORT", "32010").toInt
    val attachAllow = sys.env.get("SPARK_GRAFT_ATTACH_ALLOW")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val (_, flight) = start(spark, dataDir, flightPort, attachAllow)
    println(s"graft thrift server on port $port, flight sql on port ${flight.boundPort}, serving $dataDir")
    Thread.currentThread.join() // serve until killed
  }
}
