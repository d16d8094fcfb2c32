package graft.model

/** ENGINE EXTENSION, not reference parity: windowed-aggregation kinds
  * the reference `Aggregation` enum (feathr-rs/src/model.rs:198-216)
  * does not define — distinct counts, quantiles, heavy hitters — each
  * backed by a mergeable incremental state shape
  * ([[graft.operators.IncrementalDistinct]] HLL registers,
  * [[graft.operators.IncrementalQuantile]] binned histograms,
  * [[graft.operators.IncrementalTopK]] per-bucket candidate cuts), so
  * a declared feature set can maintain them through the SAME
  * refresh/snapshot/compact/forgetKeys lifecycle as the reference
  * aggregations. Declared via
  * [[graft.operators.IncrementalMaterializer.GraftFeature]] and passed
  * to the feature-set calls (`refresh`, `snapshot`, `compact`, ...)
  * through their `graftFeatures` argument; kept out of [[Aggregation]]
  * so the reference-parity enum stays exactly the reference's.
  */
sealed trait GraftAggregation

object GraftAggregation {

  /** Approximate distinct count over the measure (HLL, `2^precision`
    * registers). The served feature is the raw harmonic-mean estimate
    * (`est_raw` — exact-integer sufficient statistics divided once,
    * bit-reproducible cross-engine; the small-range `ln` correction is
    * a dashboard concern, [[graft.operators.Sketches.hllEstimate]]).
    */
  final case class DistinctCount(precision: Int = 12) extends GraftAggregation {
    require(precision >= 4 && precision <= 16,
      s"hll precision out of range: $precision")
  }

  /** Windowed quantile from binned-histogram state on `[lo, hi)` with
    * `nBins` bins. The served feature is the quantile bin's left edge
    * mapped back to value space — precision = one grid cell, the
    * deterministic trade every reproducible quantile makes. Features
    * differing only in `q` share one store (the state is the
    * histogram; `q` is serve-time).
    */
  final case class Quantile(q: Double, lo: Double, hi: Double,
      nBins: Int = 256) extends GraftAggregation {
    require(q > 0 && q <= 1, s"quantile out of range: $q")
    require(nBins > 0 && hi > lo, s"bad histogram grid: [$lo,$hi) x $nBins")
  }

  /** Windowed heavy hitters: the top `k` measure values by occurrence
    * count (deterministic count-desc, value-asc rule; counts are lower
    * bounds under the per-bucket candidate cut, sharpened by
    * `candidatesPerBucket`). The served feature is the rank-ordered
    * item array. Features differing only in `k` share one store (`k`
    * is serve-time).
    */
  final case class TopK(k: Int, candidatesPerBucket: Int = 8)
      extends GraftAggregation {
    require(k > 0, s"k must be positive: $k")
  }
}
