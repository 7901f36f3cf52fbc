package graft.store

/** The store's parquet write policy, defined once for every writer in
  * this package ([[LogStore]]'s appends and compaction,
  * [[BucketedStore.writeBucketed]]).
  *
  * A bloom filter on the lookup key gives point lookups row-group
  * skipping (the btree-index analog, reference: migration:35). Two parquet
  * rules decide what it costs on disk:
  *  - a column chunk whose pages are all dictionary-encoded gets no
  *    filter at all (parquet's dictionary filter prunes those chunks
  *    instead), so only high-cardinality keys pay for one;
  *  - the filter is ADAPTIVE: the writer keeps a few candidate sizes
  *    (parquet's default: 1 MiB halving down to 64 KiB), drops those too
  *    small for the distinct keys seen so far, and writes the smallest one
  *    left. Each file's filter is sized to the distinct keys in that file
  *    at parquet's default 1 % false-positive rate, where a fixed-size
  *    filter would cost parquet's 1 MiB maximum per file however few rows
  *    it holds (many times the data of a 100-row streaming epoch).
  */
private[store] object WritePolicy {

  /** Writer options for a bloom filter on `keyCol`, sized per file.
    * Parquet reads the adaptive switch for the whole file only (no
    * `#column` form); it applies to the columns whose filter is enabled,
    * here just the key.
    */
  def keyBloom(keyCol: String): Map[String, String] = Map(
    s"parquet.bloom.filter.enabled#$keyCol" -> "true",
    "parquet.bloom.filter.adaptive.enabled" -> "true")
}
