package graft

/** The engine's library surface in one import.
  *
  * The 263 oracle-checked queries in [[SparkEntry]] are the
  * capability inventory; THIS is the API a user programs against —
  * every reusable operator family behind one entry point, each member
  * carrying its scale contract in its own scaladoc. All aliases, no
  * logic: `Engine.Asof.join(...)` IS `graft.etl.Asof.join(...)`.
  *
  * | Family | Call | Scale contract |
  * |---|---|---|
  * | As-of join | `Engine.Asof.join` / `.nativeJoin` | linear union+window / co-partitioned two-pointer merge; one exchange per side, tolerance-aware |
  * | Range join | `Engine.RangeJoin.pointInInterval` / `.intervalOverlap` | bucketed equi-join, exactly-once pairs, fail-fast width cap |
  * | SCD2 | `Engine.Scd2.merge` / `.seed` / `.asOf` | broadcast-able updates join + key-only anti-join; the large current side never shuffles |
  * | Entity resolution | `Engine.EntityResolution.resolve` | hash-keyed dedup + range-partition + zipWithIndex BIGINT surrogate minting; no driver state |
  * | Connected components | `Engine.ConnectedComponents.run` | large-star/small-star: O(log n) rounds regardless of graph diameter |
  * | Near-dup dedup | `Engine.NearDup.{signatures, sigPairs, edges, clusters, dedupe}` + `LshConfig(bands, rows, minSig)` | MinHash sigs in one HashAggregate; banded LSH (never all-pairs; s-curve knee per config, default 4×4); O(log n)-round clustering; survivor cost bounded by dup volume |
  * | Checkpoint release | `Engine.Checkpoints.release` | deterministic reclaim of a superseded cut (reliable files deleted, local blocks dropped) |
  * | Segment dedup | `Engine.SegmentDedup.clean` | (doc, pos, hash64) triples only — raw text never shuffles |
  * | Bloom pruning | `Engine.BloomPrune.prune` | few-MB bitset probe fused into the scan's whole-stage codegen |
  * | Bucketed layout | `Engine.Bucketing.writeBucketed` / `.coPartition` | pay the key shuffle once at write time; later joins/aggs on the key plan with ZERO exchanges |
  * | Skew handling | `Engine.Skew.saltedAggregate` / `.saltedJoin` | bounded salt fan-out; two-phase agg |
  * | Quality rules | `Engine.Quality.run` / `.runSuite` | ONE fused aggregate pass per table regardless of rule count |
  * | Star-schema build | `Engine.Warehouse.*` | dims broadcast; facts shuffle only at their grain |
  * | Row normalization | `Engine.Normalize.*` | pure column expressions — codegen'd, zero shuffle |
  * | Lineage cuts | `Engine.Checkpoints.cut` | localCheckpoint by default; reliable under `graft.checkpoint.dir` |
  * | Batch ingest | `Engine.IngestManifest.processNew` | bounded-batch discovery; ≤ one batch of paths on the driver |
  * | Files/formats | `Engine.Sources.*`, `Engine.Xlsx` | declared-schema scans, ordered/Z-ordered/compacted writes |
  * | DDL + scripts | `Engine.SchemaDdl`, `Engine.SqlRunner` | reference schema on Spark SQL; quote-aware script execution |
  * | Full reference DAG | `Engine.Pipeline.run` | the 19-table ETL; canonical profiles and the user map persisted once, every output table a plan over them |
  * | Streaming | `Engine.Sessionize`, `Engine.StreamDedup`, `Engine.CdcMerge`, `Engine.EventStream`, `Engine.TopKStream`, `Engine.StreamJoin`, `Engine.Enrich`, `Engine.Changepoint`, `Engine.NearDupStream`, `Engine.FunnelStream`, `Engine.SlidingKmv` | watermark-bounded state; batch ≡ stream parity-tested |
  * | Online serving | `Engine.PqServeStream` (ADC), `Engine.SparseServeStream` (BM25), `Engine.FusedServeStream` (hybrid RRF) | query streams served from loaded indexes by the batch serves' own scan (`PqIndex.candidates`, `SparseIndex.contribs`); ONE stateful fold each |
  * | Persisted indexes | `Engine.AnnIndex` (IVF), `Engine.PqIndex` (IVFPQ compressed layout), `Engine.NearDup.writeIndex/incrementalEdges/deleteFromIndex`, `Engine.SparseIndex` (BM25) | build once, serve/append/DELETE forever; round trips + exact append/delete spec-proven in all four families |
  * | Segmented (LSM) layouts | `Engine.SparseSegments`, `Engine.PqSegments`, `Engine.MinHashSegments` (+ `Engine.SegmentOps`) | O(delta) nightly maintenance WRITES — base files immutable, scoped tombstones make revise correct, compact() folds segments (fire at `SegmentOps.DefaultMaxSegs`, the x105-priced default); each family's `mergeSegsAt` is the TIERED move — fold any contiguous segment range at O(delta) cost, the base never rewritten for churn (priced by x107) — and `tieredMaintain` runs `SegmentOps.tieredPlan`'s LEVELED schedule (nightly fresh-run folds that never re-absorb a standing merged segment + the geometric >= fanout similar-size rule; priced vs naive tiered by x108, geometric fire by x109); each family's `changesBetween` is snapshot CDC — state-diff rows (added/removed/updated) between two retained versions at the family's content grain (signatures / BM25 tf / frozen-book codes), O(delta) fast path when no fold crossed the window, content-diff fallback proven cell-identical (x110); the shared row diff is symmetric, so multi-row content (sparse tf) reports grown as well as shrunk docs; manifest CAS multi-writer safe, orphan claims stolen after `graft.manifest.claimTtlMs`; view ≡ rebuild/fold-in spec-proven, x99 serve-gated cross-engine |
  * | Online index ingest | `Engine.SegmentIngest.once` | batchId-keyed exactly-once foreachBatch sink over any segmented layout; tagged publications self-heal BOTH crash windows; markers bounded (64-batch retention); chaos-gated (21 seeded kill schedules) |
  * | Tokenizer training | `Engine.BpeTrain.train/applyMerge` | K-merge BPE under iterate-with-cut; constant plan depth in K |
  * | Graph ranking | `Engine.PageRank.runFixed/runConverged` | exact BIGINT ranks; iterate-with-cut keeps plan depth constant |
  * | Native kernels | `Engine.functions.{PolyHash, SimHash64, DotProduct, DistinctNgrams}` | codegen expressions — no UDF barriers |
  * | Sketches | `Engine.functions.{BottomKSketch, SpaceSavingTopK, CountMinSketch}` | mergeable, fixed memory, error bounds oracle-checked |
  *
  * Session wiring: `functions.GraftExtensions` registers the SQL
  * functions + analysis guards via `SparkSessionExtensions`;
  * `plans.CartesianGuard` refuses large×large unkeyed joins at
  * analysis time.
  */
object Engine {
  // joins
  val Asof = etl.Asof
  val RangeJoin = etl.RangeJoin
  val Scd2 = etl.Scd2
  // identity + graph
  val EntityResolution = etl.EntityResolution
  val ConnectedComponents = etl.ConnectedComponents
  // dedup + pruning + skew + layout
  val NearDup = etl.NearDup
  val SegmentDedup = etl.SegmentDedup
  val BloomPrune = etl.BloomPrune
  val Skew = etl.Skew
  val Bucketing = etl.Bucketing
  // persisted retrieval indexes + graph ranking + tokenizer training
  val AnnIndex = etl.AnnIndex
  val PqIndex = etl.PqIndex
  val SparseIndex = etl.SparseIndex
  // segmented (log-structured) index persistence — O(delta) writes
  val SegmentOps = etl.SegmentOps
  val SparseSegments = etl.SparseSegments
  val PqSegments = etl.PqSegments
  val MinHashSegments = etl.MinHashSegments
  val SegmentIngest = streaming.SegmentIngest
  val BpeTrain = etl.BpeTrain
  val PageRank = etl.PageRank
  // warehouse + quality
  val Normalize = etl.Normalize
  val Warehouse = etl.Warehouse
  val Quality = etl.Quality
  val SchemaDdl = etl.SchemaDdl
  val SqlRunner = etl.SqlRunner
  val Pipeline = etl.Pipeline
  val Checkpoints = etl.Checkpoints
  // sources + sinks
  val Sources = sources.Sources
  val Xlsx = sources.Xlsx
  val IngestManifest = sources.IngestManifest
  // streaming
  val EventStream = streaming.EventStream
  val Sessionize = streaming.Sessionize
  val StreamDedup = streaming.StreamDedup
  val CdcMerge = streaming.CdcMerge
  val TopKStream = streaming.TopKStream
  val StreamJoin = streaming.StreamJoin
  val Enrich = streaming.Enrich
  val Changepoint = streaming.Changepoint
  val NearDupStream = streaming.NearDupStream
  val FunnelStream = streaming.FunnelStream
  val SlidingKmv = streaming.SlidingKmv
  // online serving (query streams over loaded indexes)
  val PqServeStream = streaming.PqServeStream
  val SparseServeStream = streaming.SparseServeStream
  val FusedServeStream = streaming.FusedServeStream
  // media
  val MediaPipeline = multimodal.MediaPipeline

  /** Native codegen kernels + typed sketch aggregators. */
  object functions {
    val PolyHash = graft.functions.PolyHash
    val SimHash64 = graft.functions.SimHash64
    val DotProduct = graft.functions.DotProduct
    val DistinctNgrams = graft.functions.DistinctNgrams
    val BottomKSketch = graft.functions.BottomKSketch
    val CountMinSketch = graft.functions.CountMinSketch
    /** SpaceSavingTopK is a class (instantiate with capacity + k):
      * `new Engine.functions.SpaceSavingTopK(1024, 10)`. */
    type SpaceSavingTopK = graft.functions.SpaceSavingTopK
  }
}
