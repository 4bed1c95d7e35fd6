package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{StatsOps, Temporal}

/** SURVEY §2 r11 additions — distribution/survival audits a curation or
  * analytics pipeline runs over its measure columns: Benford first-digit
  * conformance (fabricated/unit-mixed feed detection), Lorenz
  * concentration points (the mix-design drill-down under gini),
  * the behavior chain's stationary mix (transition-matrix forward
  * model), and censoring-correct time-to-return survival. Same oracle
  * conventions as every module: exact integers everywhere the metric
  * allows, ordered float folds, matched aliases, deterministic ORDER BY.
  */
object AuditQueries {

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  val defs: Seq[Q] = Seq(

    // Benford first-digit audit per event type: chi2 of the observed
    // first-significant-digit histogram of `value` against
    // log10(1 + 1/d) — the no-reference fabricated/clipped-feed alarm.
    // Digits extract exactly via integer cents + decimal string; the
    // nine Benford constants are Scala-computed literals inlined into
    // BOTH plans (no engine libm in the compare).
    Q("q_benford",
      (s, d) => StatsOps.benfordAudit(ev(s, d), "event_type", "value")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_vals, chi2, d1_share FROM (" +
        StatsOps.benfordAuditSql("events", "event_type", "value") +
        ") z ORDER BY event_type")),

    // Lorenz curve points per source over document char mass — "the top
    // decile of docs holds X% of the characters", the drill-down a
    // domain-capping policy reads where gini gives one number.
    Q("q_lorenz",
      (s, d) => StatsOps.lorenzCurve(docs(s, d), "source", "doc_id",
          "n_chars")
        .withColumnRenamed("grp", "source")
        .orderBy("source", "decile"),
      Some("SELECT grp AS source, decile, cum_items, cum_share FROM (" +
        StatsOps.lorenzCurveSql("documents", "source", "doc_id", "n_chars") +
        ") z ORDER BY source, decile")),

    // Stationary distribution of the per-user event-type chain (8 power
    // rounds, pagerank convention): the long-run traffic mix the
    // transition matrix implies — q_transitions' forward model.
    Q("q_markov_stationary",
      (s, d) => Temporal.markovStationary(ev(s, d), "user_id",
        "event_type", "ts", "event_id", rounds = 8),
      Some(Temporal.markovStationarySql(
        "(SELECT user_id AS u, event_type AS st, ts, event_id AS tie " +
          "FROM events)", rounds = 8))),

    // Kaplan-Meier time-to-next-event survival over per-user gaps with
    // the open last gap CENSORED at the corpus horizon — the
    // return-time curve sessionization implicitly assumes, estimated
    // without the short-bias of dropping open intervals.
    Q("q_kaplan_meier",
      (s, d) => Temporal.kaplanMeier(ev(s, d), "user_id", "ts", "event_id"),
      Some(Temporal.kaplanMeierSql(
        "(SELECT user_id AS u, epoch_us(ts) AS us, event_id AS tie " +
          "FROM events)")))
  )
}
