/** graft — a Spark-native (Scala) analytics engine with the query and
  * data-processing capabilities of the reference ETL pipeline
  * (KristineNinua/ETL-Pipeline-with-Alpha-Vantage, read-only snapshot at
  * /root/reference), generalized per the north star into a reusable
  * operator library plus LLM-training-data operators.
  *
  * Map of the engine (details: README.md, blueprint: SURVEY.md):
  *
  *  - [[graft.SparkEntry]] — the driver contract: `entry`, 350 `queries`,
  *    and per-query DuckDB `oracleSql` (all 350 oracled).
  *    [[graft.Verify]] dumps results for the oracle gate, [[graft.Bench]]
  *    emits the one-line bench JSON, [[graft.Explain]] regenerates
  *    EXPLAIN.md: per query, the plans of the SQL executions its build
  *    ran (pins, driver reads, writes), as Spark reported them through a
  *    [[org.apache.spark.sql.graft.QueryCapture]], then the plan of the
  *    frame it returns. [[graft.DemoPipeline]] runs the reference's
  *    `main()` end-to-end. Every main builds its session through
  *    [[graft.GraftSession]].
  *  - [[graft.queries]] — one object per operator family (Relational,
  *    Windows, SetsAndAggs, Scalars, Temporal, Advanced, SqlSurface,
  *    NorthStar) wiring the library into oracled queries.
  *  - [[graft.operators]] — the library itself: AsOfJoin, Upsert,
  *    Sessionize, Dedup (exact / prefix-filtered Jaccard / MinHash+LSH /
  *    SimHash), Similarity (exact / LSH / IVF), TextAnalysis, Multimodal,
  *    Salt.
  *  - [[graft.functions]] — CandleAggregator (typed two-phase UDAF) and
  *    Money (exact integer-cents aggregation).
  *  - [[graft.plans]] — custom Catalyst expressions (codegen'd DotProduct,
  *    SimHash64, RollingHash) as SQL functions and the native as-of join,
  *    both put on a session by `GraftFunctions.install`.
  *  - [[graft.sources]] — RawCache (cache-or-fetch, with the
  *    FakeAlphaVantageServer fetch stub), AlphaVantage ingest
  *    (schema-on-read, quarantine), Parquet/Jdbc warehouses (DECIMAL
  *    at-rest, append of new keys only), ManifestTable, RunLog.
  *  - [[graft.streaming]] — the file-drop stock stream with
  *    `maxFilesPerTrigger` throttling and watermarked key dedup, gated
  *    admission into ManifestTable (GatedIngest), and the txn-marked
  *    state streams DemoPipeline's monitors and queries maintain.
  */
package object graft
