package perfbench

/** A registry query as a workload runs it: `label` names it in records
  * and traces, `conf` is set on the session around each execution. */
final case class QueryRun(query: String, label: String,
                          conf: Map[String, String] = Map.empty)

/** One workload: query runs at one scale. README.md gives the reason for
  * each choice. */
final case class Workload(name: String, sf: String, runs: Seq[QueryRun]) {
  def queries: Seq[String] = runs.map(_.query).distinct
}

object Workloads {
  /** The graph-operator size gate: at 0 every gated operator takes the
    * distributed per-round loop of ops/Graph; under the default (4M edge
    * rows) the sf0.01 graphs replay on the driver in ops/GraphLocal. */
  val GraphGate = "spark.graft.localGraphEdgeLimit"

  /** Joins (q07), a window rank (q10), llm/ language id (q35), ops/Rolling
    * (q145, whose tail the roadmap blames on fixed per-query overhead) and
    * the plans/AsofMerge planner strategy (q281). */
  val ops: Seq[String] = Seq(
    "q07_anti_join", "q10_window_rank", "q35_lang_id", "q145_rolling_corr",
    "q281_asof_merge")

  val all: Seq[Workload] = Seq(
    Workload("ops_small", "sf0.01", ops.map(q => QueryRun(q, q))),
    // Label propagation on both sides of the gate; both sides build their
    // graph eagerly (persist + count) before the final action.
    Workload("graph", "sf0.01", Seq(
      QueryRun("q287_label_propagation", "q287_label_propagation@local"),
      QueryRun("q287_label_propagation", "q287_label_propagation@distributed",
        Map(GraphGate -> "0")))))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; known: ${all.map(_.name).mkString(", ")}"))
}
