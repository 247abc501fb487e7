package graft.operators

/** The build counters of the memos the curation workload resolves
  * through: the exact-kNN index (`Learn.knnCache`, a [[CachedRelation]])
  * and the coarse IVF codebook (`Learn.coarseMemo`, a [[TtlMemo]]). Both
  * are `private[graft]`, so the benchmark reads them from this package. */
object LayerbenchMemos {
  def builds: Long = Learn.knnCache.buildCount + Learn.coarseMemo.buildCount
}
