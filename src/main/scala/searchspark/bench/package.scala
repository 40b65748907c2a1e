package searchspark

/** Measurement mains. Each backs a specific claim in BENCH.md — none is
  * product code, none is on any library path:
  *  - [[bench.StreamBuild]] — the >RAM streaming build: same build in
  *    a capped heap with an in-process input-never-cached assertion
  *    (BENCH.md ">RAM streaming build"); driven by
  *    tools/run_stream_build.sh which also asserts capped == control
  *    bit-identity.
  *  - [[bench.BigBuild]] — the persisted (IceLite + checkpoint)
  *    pipeline at ~2M turns (BENCH.md "Persisted build").
  *  - [[bench.HeadQueryBench]] — worst-case head query (exact-total
  *    WAND over ~1.4M candidates) at the 2M-turn corpus.
  *
  * Driver-contract mains live in the `graft` package instead:
  * graft.Bench (the per-round artifact: operator timings min-of-2,
  * build min-of-2 isolated, noise-gated latency windows) and
  * graft.Verify (oracle dump). The repository's benchmark is
  * perfbench/ (its README).
  */
package object bench
