package graft

/** Batch operator library — every object is a family of DataFrame-in /
  * DataFrame-out operators whose Scaladoc states its scale shape (what
  * shuffles, what is bounded, what broadcasts).
  *
  *   - [[graft.ops.Dedup]] — exact/incremental dedup, MinHash+LSH,
  *     SimHash, containment, exact PPJoin Jaccard, edit-distance-1 ER,
  *     bucket-cap drop accounting, recursive band refinement, near-dup
  *     clustering (+ incremental maintenance), banding fidelity reports.
  *   - [[graft.ops.Similarity]] — brute-force / LSH / IVF / IVF-PQ ANN,
  *     SemDeDup, margin mining, kNN graphs, MMR, RRF, JL projection,
  *     PQ audits, embedding health; persisted IVF index lifecycle
  *     (cell-partitioned build/append/compact, DPP-pruned probes).
  *   - [[graft.ops.TextAnalysis]] — language id, quality scores,
  *     TF-IDF, boilerplate, n-gram LMs, Zipf/Heaps, BPE, readability,
  *     PII audits, URL canonicalization, hashing-trick classifier.
  *   - [[graft.ops.Sketches]] — KMV, HLL, CMS, Bloom, heavy hitters,
  *     exact/weighted/grouped quantiles via blocked running sums.
  *   - [[graft.ops.Graphs]] — PageRank (skew-split, exchange-free
  *     rounds), k-core, BFS, triangles, two-hop reach, DAG depth,
  *     assortativity, negative sampling.
  *   - [[graft.ops.Profiling]] — 60+ data-quality/statistics reports:
  *     drift, FD/IND discovery, k-anonymity, KS, CUPED, bootstrap CI,
  *     FK integrity, Gini, join-size estimation.
  *   - [[graft.ops.Splits]] / [[graft.ops.Mixing]] /
  *     [[graft.ops.Packing]] — deterministic/stratified splits, quota
  *     allocation, temperature mixing, sequence packing.
  *   - [[graft.ops.Layout]] / [[graft.ops.Bucketing]] — Z-order,
  *     Hilbert, compaction, zone maps, rendezvous bucketing.
  *   - [[graft.ops.RangeJoin]] / [[graft.ops.AsOf]] — binned range /
  *     interval / as-of joins with O(1) planning probes.
  *   - [[graft.ops.Sessions]] — sessionization, funnels, retention,
  *     sliding distinct users, rolling trends.
  *   - [[graft.ops.Cdc]] — change-data-capture application and SCD2.
  *   - [[graft.ops.Skew]] — salted joins and skew diagnostics.
  *   - [[graft.ops.MediaCodecs]] / [[graft.ops.Multimodal]] — BMP/PPM/
  *     WAV/JPEG/PNG headers, pHash, audio fingerprints, scene cuts.
  *
  * Every rank, quantile or running total over a table or a group runs
  * through one library-internal helper, `RunningSums`: per-(group, block)
  * subtotals in one driver collect, offsets folded on the driver, then
  * one window per (group, block) — never a single-reducer window. The
  * driver holds groups × blocks subtotals, which the callers' block
  * definitions (bit lengths, key ranges, quantile bands) keep small.
  */
package object ops
