package perfbench

/** The per-layer metrics of a traced run, from the tracer's spans and
  * counters. Every metric is reported on every workload; a layer a
  * workload never calls reads 0. Values are per traced operation (a daily
  * run, a replay or a query pass), except the gauges `stream.state_rows`,
  * `stream.state_mem_bytes` and `manifest.files` (last reading) and the
  * ratios. Listener counters (`#jobs`, `#stages`, ...) count what ran
  * while the named span was the innermost open one. */
object Layers {
  def metrics(t: Tracer, nOps: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, nOps).toDouble
    val spans = t.allSpans
    def secs(name: String): Double =
      spans.filter(_.name == name).map(_.seconds).sum / n
    def per(key: String): Double = t.counter(key) / n
    def listener(spanPrefix: String, metric: String): Double =
      t.sumCounter(spanPrefix, metric) / n

    val rowsOut = t.counter("alphavantage.rows_out")
    val appended = t.counter("warehouse.rows_appended")
    val written = t.counter("warehouse.bytes_written")
    val appendedBytes = t.counter("warehouse.appended_bytes")
    val gateIn = t.counter("gate.rows_in")
    // the noop write's planning is counted apart from its execution
    val execPlan = listener("query.exec", "plan_s")

    Seq(
      ("rawcache.land_s", secs("rawcache.land"), "s"),
      ("rawcache.misses", per("rawcache.misses"), "count"),
      ("rawcache.hits", per("rawcache.hits"), "count"),
      ("alphavantage.read_s", secs("alphavantage.read"), "s"),
      ("alphavantage.validate_s", secs("alphavantage.validate"), "s"),
      ("alphavantage.tabularize_s", secs("alphavantage.tabularize"), "s"),
      ("alphavantage.files_scanned", per("alphavantage.files_scanned"), "count"),
      ("alphavantage.input_bytes", listener("alphavantage.", "input_bytes"), "bytes"),
      ("alphavantage.payloads_quarantined", per("alphavantage.payloads_quarantined"),
        "count"),
      ("alphavantage.rows_out", rowsOut / n, "count"),
      ("alphavantage.jobs", listener("alphavantage.", "jobs"), "count"),
      ("warehouse.append_s", secs("warehouse.append"), "s"),
      ("warehouse.rows_appended", appended / n, "count"),
      ("warehouse.rows_skipped", (rowsOut - appended) / n, "count"),
      ("warehouse.bytes_written", written / n, "bytes"),
      ("warehouse.write_amp", if (appendedBytes > 0) written / appendedBytes else 0.0,
        "ratio"),
      ("warehouse.shuffle_bytes", listener("warehouse.append", "shuffle_bytes"), "bytes"),
      ("warehouse.jobs", listener("warehouse.append", "jobs"), "count"),
      ("stream.batches", per("stream.batches"), "count"),
      ("stream.trigger_s", per("stream.trigger_s"), "s"),
      ("stream.add_batch_s", per("stream.add_batch_s"), "s"),
      ("stream.plan_s", per("stream.plan_s"), "s"),
      ("stream.wal_commit_s", per("stream.wal_commit_s"), "s"),
      ("stream.rows_in", per("stream.rows_in"), "count"),
      ("stream.rows_late_dropped", per("stream.rows_late_dropped"), "count"),
      ("stream.state_rows", t.counter("stream.state_rows"), "count"),
      ("stream.state_mem_bytes", t.counter("stream.state_mem_bytes"), "bytes"),
      ("gate.sink_s", secs("gate.sink"), "s"),
      ("gate.rows_in", gateIn / n, "count"),
      ("gate.admitted", per("gate.admitted"), "count"),
      ("gate.admit_ratio", if (gateIn > 0) t.counter("gate.admitted") / gateIn else 0.0,
        "ratio"),
      ("gate.jobs", listener("gate.sink", "jobs"), "count"),
      ("dau.sink_s", secs("dau.sink"), "s"),
      ("dau.jobs", listener("dau.sink", "jobs"), "count"),
      ("manifest.versions", per("manifest.versions"), "count"),
      ("manifest.files", t.counter("manifest.files"), "count"),
      ("query.build_s", secs("query.build"), "s"),
      ("query.build_jobs", listener("query.build", "jobs"), "count"),
      ("query.plan_s", execPlan, "s"),
      ("query.exec_s", secs("query.exec") - execPlan, "s"),
      ("query.exec_jobs", listener("query.exec", "jobs"), "count"),
      ("query.stages", listener("query.", "stages"), "count"),
      ("query.shuffle_bytes", listener("query.", "shuffle_bytes"), "bytes"),
      ("query.spill_bytes", listener("query.", "spill_bytes"), "bytes"),
      ("query.gc_s", per("query.gc_s"), "s"),
      ("query.pins_left", per("query.pins_left"), "count"),
      ("hygiene.cleanup_s", secs("hygiene.cleanup"), "s"))
  }
}
