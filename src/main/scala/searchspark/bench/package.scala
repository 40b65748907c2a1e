package searchspark

/** Measurement mains. Each exists to back ONE specific claim in
  * BENCH.md — none is product code, none is on any library path. The
  * index below is the map from probe to the claim it pins, so a reader
  * of BENCH.md can re-run exactly the tool that produced a number.
  *
  * Headline artifacts (run by tools/ scripts or the round driver):
  *  - [[bench.BuildBench]] — build throughput at one parallelism level
  *    over the persisted /dev/shm parquet corpus (keyed by seed, size,
  *    and [[gen.TranscriptGen.GenFingerprint]]); the unit
  *    tools/run_scaling_gated.sh interleaves for the north-rule
  *    scaling studies (BENCH.md "Index-build throughput").
  *  - [[bench.StreamBuild]] — the >RAM streaming build: same build in
  *    a capped heap with an in-process input-never-cached assertion
  *    (BENCH.md ">RAM streaming build"); driven by
  *    tools/run_stream_build.sh which also asserts capped == control
  *    bit-identity.
  *  - [[bench.BigBuild]] — the persisted (IceLite + checkpoint)
  *    pipeline at 4× the scaling corpus (BENCH.md "Persisted build").
  *
  * One-claim probes (each cited where its number appears):
  *  - [[bench.ScaleProbe]] — pure-CPU scaling ceiling of the host VM;
  *    justifies measuring the north rule at local[2]→local[8].
  *  - [[bench.MemBwProbe]] — memory-bandwidth ceiling; the
  *    host-calibration sibling of ScaleProbe.
  *  - [[bench.HeadQueryBench]] — worst-case head query (exact-total
  *    WAND over ~1.4M candidates) at the 2M-turn corpus.
  *  - [[bench.BuildPhaseProbe]] — per-stage build wall-clock split;
  *    identified TF + segment encode as the round-3 hot stages.
  *  - [[bench.TfProbe]] — TF kernel vs declarative TF timing.
  *  - [[bench.SegProbe]] — posting-segment encode timing.
  *  - [[bench.ZipProbe]] — docId zip-back cost vs the range-exchange
  *    form (round-4 two-pass assignment).
  *  - [[bench.JobTraceProbe]] — Spark jobs launched per build;
  *    guards against driver-side job creep.
  *  - [[bench.AnnBench]] — typed cosine kernel vs interpreted
  *    expression at 256-dim (round-4 ANN rework).
  *  - [[bench.PlanAudit]] — dump physical plans of the driver
  *    queries for the BENCH.md plan audit
  *    (read-only; the enforced version of these checks lives in
  *    PlanGuardSpec).
  *
  * Driver-contract mains live in the `graft` package instead:
  * graft.Bench (the per-round artifact: operator timings min-of-2,
  * build min-of-2 isolated, noise-gated latency windows), graft.Verify
  * (oracle dump), graft.HeadProbe / graft.TimeQuery (one-off latency
  * cross-checks for Bench's head-query and per-query numbers).
  */
package object bench
