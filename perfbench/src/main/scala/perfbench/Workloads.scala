package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.elb.{LogParser, Synthetic}
import graft.ops.Sessionize

/** One timed step of a workload: it builds a DataFrame from the fixture
  * directory, and the runner times the build plus `collect()`, which
  * materializes every row and column of the plan as built (final sort
  * included). `oracle` is the DuckDB SQL the result must equal; `ordered`
  * says whether row order is part of the answer; `check` verifies a result
  * against what the fixture generator built, for steps DuckDB cannot
  * mirror. */
final case class Step(name: String, build: (SparkSession, String) => DataFrame,
    oracle: Option[String], ordered: Boolean,
    check: (Array[Row], Map[String, Long]) => Option[String] = (_, _) => None)

/** `pinned`: the base tables are cached before timing, as graft.Bench does.
  * `freshDir`: every pass reads the fixture under a path of its own (hard
  * links), because the stream replays memoize their output per fixture
  * path; the passes then share one session. */
final case class Workload(name: String, steps: Seq[Step], pinned: Boolean,
    freshDir: Boolean)

object Workloads {
  /** A `SparkEntry.queries` entry, timed exactly as its registry builds it. */
  private def query(name: String): Step =
    Step(name, SparkEntry.queries(name), SparkEntry.oracleSql.get(name),
      ordered = true)

  /** Short oracled queries from the Relational, EventOps and SessionQueries
    * registries, ~0.2-0.4 s each at this size: query build, Catalyst,
    * codegen and job launch dominate them. */
  val shortQueries: Seq[String] = Seq(
    "q_topk_orders", "q_limit_offset", "q_forecast_revenue", "q_sql_identifier",
    "q_join_cross", "q_bit_aggs", "q_string_funcs", "q_unpivot",
    "q_asof_native", "q_join_semi", "q_pricing_summary", "q_sql_pipe",
    "q_date_funcs", "q_cube", "q_json_extract", "q_top_engaged")

  /** `LogParser.requests` over the seeded ELB text: every well-formed line
    * parses, every malformed one is quarantined. */
  private val parseStep = Step("LogParser.requests",
    (s, dir) => LogParser.requests(s.read.text(s"$dir/elb")),
    oracle = None, ordered = false,
    check = (rows, facts) => {
      val ips = rows.iterator.map(_.getAs[String]("client_ip")).toSet.size
      if (rows.length != facts("elb_wellformed_lines"))
        Some(s"rows ${rows.length} != ${facts("elb_wellformed_lines")} well-formed lines")
      else if (ips != facts("elb_clients")) Some(s"clients $ips != ${facts("elb_clients")}")
      else None
    })

  /** `Sessionize.sessions` over the events table, checked against the
    * sessions relation DuckDB derives with the program's own oracle CTE. */
  private val sessionsStep = Step("Sessionize.sessions",
    (s, dir) => Sessionize.sessions(Tables(s, dir, "events"),
      col("user_id"), col("ts"), col("event_id"), col("event_type")),
    oracle = Some(Sessionize.oracleSessionsCte() +
      "\nSELECT user_id, session_id, session_start_us, session_end_us, " +
      "hit_count, unique_item_count, duration_sec FROM sessions"),
    ordered = false)

  val all: Seq[Workload] = Seq(
    Workload("overhead_sweep", shortQueries.map(query),
      pinned = true, freshDir = false),
    // the paper's pipeline on the scaled events: sessions (Goal 1), the
    // direct parser and sessionizer calls, and the oracled stream replay of
    // the same sessionization, which adds the write path (micro-batch
    // planning, state-store writes, checkpoint commits)
    Workload("sessionize_scaled",
      Seq(query("q_sessionize"), parseStep, sessionsStep, query("q_stream_sessionize")),
      pinned = false, freshDir = true))

  // access log shape: clients × sessions × hits lines, every 101st malformed
  private val (elbClients, elbSessions, elbHits, elbMalformedEvery) = (500, 4, 25, 101)

  /** Writes the seed's access log into `fixture/elb` on first use (from
    * `elb.Synthetic.generate`) and returns what it must parse to. */
  def accessLog(fixture: String, seed: Long): Map[String, Long] = {
    val dir = Paths.get(fixture, "elb")
    if (!Files.exists(dir)) {
      val lines = Synthetic.generate(seed, elbClients, elbSessions, elbHits, elbMalformedEvery)
      val tmp = Paths.get(s"$fixture/elb.partial${ProcessHandle.current().pid()}")
      Files.createDirectories(tmp)
      Files.write(tmp.resolve("access.log"), lines.asJava)
      Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    }
    val lines = elbClients * elbSessions * elbHits
    Map("elb_lines" -> lines.toLong,
      "elb_wellformed_lines" -> (lines - lines / elbMalformedEvery).toLong,
      "elb_clients" -> elbClients.toLong)
  }

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
