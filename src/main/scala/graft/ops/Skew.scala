package graft.ops

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.functions._

/** Skew-mitigation patterns (builder-prompt mandate: "skewed keys →
  * salting or AQE skew-join"). Both queries produce results identical to
  * their unsalted forms — the oracle is the PLAIN SQL, proving the salted
  * plan is a pure physical rewrite. Salt is a DETERMINISTIC column
  * (id % SALT), not rand(): same result every run, per §7.3.
  */
object Skew {

  private val SALT = 16

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "agg_salted_skew",
      // Two-phase salted aggregation over a 5-value grouping key (the
      // 100 TB shape when one key holds most rows and a single final
      // reducer would hotspot): phase 1 aggregates (key, salt) — SALT×
      // more partial groups, each a fraction of the hot key's rows —
      // phase 2 merges the partials per key. Exact decimal partials make
      // the two-phase sum bit-equal to the one-phase sum.
      (s, dir) => {
        val e = T.events(s, dir)
        val partial = e
          .groupBy(col("event_type"), (col("event_id") % SALT).as("salt"))
          .agg(T.dsumD(col("value")).as("psum"), count(lit(1)).as("pn"))
        partial.groupBy("event_type")
          .agg(sum(col("psum")).cast("double").as("sum_value"), sum(col("pn")).as("n"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type, ${T.sqlDsum("value")} AS sum_value, count(*) AS n
               FROM events GROUP BY event_type ORDER BY event_type""")),

    QueryDef(
      "join_salted_skew",
      // Salted join of a skewed fact key against a small per-key table:
      // the fact side gets salt = event_id % SALT; the build side is
      // replicated SALT× with an explode, so the join key becomes
      // (event_type, salt) and the hot key's rows spread over SALT tasks.
      // (At THIS build-side size broadcast is the right answer — shown
      // with per-key stats derived from events itself so the pattern is
      // self-contained; it exists for the case where both sides are too
      // large to broadcast.) Result == plain join, proven by the oracle.
      (s, dir) => {
        val e = T.events(s, dir)
        val dim = e.groupBy(col("event_type").as("d_type"))
          .agg(T.davg(col("value")).as("type_avg"))
        val dimSalted = dim.select(col("d_type"), col("type_avg"),
          explode(sequence(lit(0), lit(SALT - 1))).as("d_salt"))
        e.select(col("event_id"), col("event_type"), col("value"),
            (col("event_id") % SALT).as("salt"))
          .join(dimSalted,
            col("event_type") === col("d_type") && col("salt") === col("d_salt"))
          .groupBy("event_type")
          // deviations carry 6 dp (2-dp value − 6-dp avg): sum at scale 6
          // so the decimal cast is exact — a scale-4 cast would re-round
          // and engines disagree on exact half-boundaries
          .agg(count(lit(1)).as("n"),
            sum((col("value") - col("type_avg")).cast("decimal(18,6)"))
              .cast("double").as("sum_dev"))
          .orderBy("event_type")
      },
      Some(s"""WITH dim AS (SELECT event_type AS d_type,
                 ${T.sqlDavg("value")} AS type_avg
               FROM events GROUP BY event_type)
               SELECT event_type, count(*) AS n,
                 CAST(sum(CAST(value - type_avg AS DECIMAL(18,6))) AS DOUBLE) AS sum_dev
               FROM events JOIN dim ON event_type = d_type
               GROUP BY event_type ORDER BY event_type"""))
  )
}
