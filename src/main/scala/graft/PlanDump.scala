package graft
import java.nio.file.{Files, Paths}
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val dir = "/root/testdata/sf0.01"
    val out = new StringBuilder
    val picks = Seq(
      ("q05_region_revenue", "5-way star join: every dimension side is a BroadcastHashJoin; the single fact-fact join (lineitem ⋈ orders) shuffles once; aggregation is partial before the exchange."),
      ("q01_pricing_summary", "Scan→filter→agg: PushedFilters reaches the parquet scan, ReadSchema is pruned to 7 of 11 columns, HashAggregate is map-side partial."),
      ("i_chunk_token", "Token chunker: a single Project/Generate pipeline — zero Exchange; 100 TB of documents chunk as a map-only stage."),
      ("d_dedup_ngram", "N-gram dedup: pairs are generated inside grouped shingle buckets (bare doc-id payloads) and MATERIALIZED once (localCheckpoint — the Scan ExistingRDDs below; without it the bucket pipeline re-executed once per consumer, 5 copies in the plan); per-doc size columns rejoin AFTER pair-gen via two broadcast joins."),
      ("d_dedup_url", "URL-canonical dedup: the regex canonicalization chain is evaluated map-side inside the partial aggregate — ONE hash exchange on the canonical key, no raw-URL shuffle."),
      ("d_dedup_minhash", "MinHash LSH: signatures MATERIALIZED once (every consumer reads Scan ExistingRDD); the (band, key) bucket self-join carries bare ids (3 longs — shingle arrays never enter the candidate exchange), candidate (a, b) pairs dedup as 2-long rows, and the true-Jaccard verify is two pairs-bounded rejoins against the checkpointed signature table that AQE realizes as broadcasts."),
      ("d_dedup_simhash", "SimHash combo tables (Manku-style): one 60-bit signature per doc, exploded into C(6,3)=20 tables keyed on packed 3-block (~30-bit) combinations — complete for hamming ≤ 3 by pigeonhole, spread enough that template-heavy corpora don't pile into the df-cut; hamming verified before the pair-dedup exchange."),
      ("q_asof_join", "As-of join: merge-style union+window — ONE hash exchange on the key and one sort; no range-join fan-out (the naive theta-join is O(n·m) per key)."),
      ("q_range_join", "Band join: bands broadcast, inequality evaluated map-side (BroadcastNestedLoopJoin) — the fact side never shuffles."),
      ("s_semantic_search", "Semantic search: vector records are a map-only pipeline; the literal query embedding scores every record in the scan stage; one TakeOrderedAndProject, no shuffle."),
      ("s_knn_ivf", "IVF ANN: corpus-to-list assignment is a scan-stage nearestCentroids argmax against the broadcast one-row centroid fold (BroadcastNestedLoopJoin + Generate — no exchange on the corpus branch); candidates are scored BEFORE dedup, so the dropDuplicates/top-k exchanges carry (query_id, nbr_id, cos) — ids + one double, never embedding arrays."),
      ("d_repeated_spans", "Substring-level span dedup: the only corpus-sized exchange is the groupBy(hash) document-frequency aggregate over (hash, doc_id, pos) longs; the hot-hash semi-join broadcasts and island merging windows over flagged rows only."),
      ("s_knn_ivfpq", "IVF-PQ: ONE corpus scan computes the coarse list assignment (nearestCentroids argmax vs the broadcast centroid fold) AND the PQ sub-codes (argmin vs the broadcast codebook fold) — embeddings are dropped at the scan, every downstream exchange moves (nbr_id, list_id, codes) and the top-k shuffle carries ids + one double."),
      ("t_bigram_lm", "Bigram LM scoring: tokens hash inside the scan stage (no token strings in any exchange); both vocab aggregates are map-side combined to ≤|vocab| rows and rejoin by broadcast; the doc side's only exchange is the final groupBy(doc_id)."),
      ("t_bpe_encode", "BPE encode: a pure Project/Generate pipeline — the merge-rank table rides as a codegen reference object, zero Exchange before the output sort; 100 TB of corpus encodes as a map-only stage."),
      ("s_bm25", "BM25 retrieval: postings MATERIALIZED once (Scan ExistingRDD) from a single map-side-combined (doc_id, term) aggregate; the (query_id, term, idf) table broadcasts into the scoring join, so every query_id-partitioned exchange downstream carries ids + one double — term strings never shuffle past the postings build."),
      ("d_dedup_semantic", "SemDeDup: cluster assignment is the IVF scan-stage argmax against the broadcast ⌈√N⌉-centroid fold (no exchange on the corpus branch); the within-cluster ε-ball self-join shuffles the checkpointed assignment once on list_id, with cluster size √N bounding the pair fan-out."),
      ("t_dsir_weights", "DSIR weights: window hashes fold to 4096 buckets inside the scan stage; the bucket model aggregates map-side to ≤4096 rows and broadcasts into the scoring join — the corpus stream's only exchange is the final groupBy(doc_id) carrying (doc_id, count, partial double)."),
      ("d_dedup_containment", "Containment dedup: same materialized-once candidate stage as d_dedup_ngram (bare-id shingle buckets, pairs-bounded size rejoins) — only the acceptance inequality differs (inter ≥ t·min(na,nb)), so the excerpt/quote catch costs no extra exchange."),
      ("d_sample_balanced", "Quota sampling: the row_number≤cap filter is rewritten to WindowGroupLimit(Partial) BELOW the stratum exchange and WindowGroupLimit(Final) above it — map tasks pre-prune to their local top-cap, so the shuffle carries ≤ cap×strata×tasks rows, never the corpus."),
      ("t_entropy", "Entropy signal: the charEntropy kernel evaluates inside the scan-stage Project (codegen-inlined, map-only) — the only operator below the output sort is the parquet scan."),
      ("t_nb_classifier", "Naive Bayes classifier: the ≤|classes|·|vocab| model MATERIALIZES once (Scan ExistingRDD) and broadcasts into the scoring join — the corpus stream shuffles (doc_id, hash) longs into one groupBy(doc_id, cls); the per-doc argmax rewrites to WindowGroupLimit(Partial/Final) so map tasks pre-prune to their best class before the exchange."),
      ("d_corpus_overlap", "Corpus-overlap matrix: the corpus reduces to distinct (group, 60-bit hash) via a map-side-combined aggregate BEFORE any join; the hash-keyed self-join carries (group) payloads only — per-hash fan-out bounded by #groups² — and pair counts map-side-combine to ≤#groups² rows."),
      ("d_sample_temperature", "Temperature sampling: quotas come from a driver fold over the bounded stratum-count aggregate; the corpus-side row_number≤maxQuota LITERAL filter rewrites to WindowGroupLimit(Partial) below the stratum exchange, then the exact per-stratum quota applies via a broadcast join — the shuffle never carries more than maxQuota×strata×tasks rows."),
      ("d_decontaminate_semantic", "Semantic decontamination: the eval set BROADCASTS into a BroadcastNestedLoopJoin with the cosine predicate evaluated map-side — corpus embeddings never shuffle; the only row exchange is the final per-vec_id aggregate, fed by matching pairs only and map-side combined."),
      ("d_dedup_fuzzy", "Fuzzy edit-distance dedup: heads-only payloads into the (slot, segment) candidate join, hot segments dropped via a broadcast anti-join, and Catalyst pushes the levenshtein≤k verify INTO the join condition — only verified pairs shuffle into the distinct aggregate, never raw candidates with two heads of payload."),
      ("d_cdc_apply", "CDC apply (MERGE twin): the last-writer-wins pick rewrites to WindowGroupLimit(Partial/Final) over the CHANGELOG exchange only — map tasks keep their local latest op per doc; the base corpus branch is scan → anti-join against the touched keys (AQE realizes a broadcast), no corpus shuffle."),
      ("t_vocab_coverage", "Vocab coverage: the corpus reduces to a map-side-combined (token, count) vocab aggregate; the top-max(k) cut is a TakeOrderedAndProject (each task pre-prunes to its local top-k, ONE bounded merge — no full-vocab single-partition sort); the only window runs over the ≤max(k) survivors."),
      ("q_changepoint", "CUSUM changepoint: events reduce map-side to (type, hour) integer sums; the |types|-row moment aggregate broadcasts back; the running-sum window partitions by type over the bounded hourly series — no global window, no corpus-sized exchange past the first reduce."),
      ("s_label_centroids", "Class prototypes: per-(label,dim) component sums map-side combine to |labels|×dim rows; centroids reassemble label-bounded and BROADCAST into the map-only member-cosine pass; the cohesion aggregate carries (label, micro-cosine long) — embeddings never shuffle."),
      ("g_pagerank", "PageRank: the edge table materializes ONCE (Scan ExistingRDD; at this SF AQE broadcasts it into every round's rank join — at scale it SMJs on its stored src partitioning); per iteration the only edge-proportional exchange is the contribution aggregate on dst, map-side combined to node-sized before it moves; the remaining per-round exchanges are node-sized (rank/deg reattach). Every exchange carries (long, double) rows, lineage checkpoint-truncated every 3 rounds."),
      ("d_curate_e2e", "Curation funnel: lang/quality/token flags evaluate inside ONE corpus scan (map-only kernels) materialized once; the keeper aggregate shuffles 32-byte digests, decontamination shuffles (doc_id, shingle) longs with the benchmark side broadcast, and the funnel itself is a single conditional-sum aggregate over fixed-width flag rows — raw text never rides an exchange past the flag scan."),
      ("t_source_audit", "Source audit: every signal (token count, content polyHash, quality keep) computes inside the scan-stage Project; ONE map-side-combined aggregate to |sources| rows — the distinct-text count shuffles 8-byte hashes, never text."),
      ("g_triangles", "Triangle counting: degree-oriented wedge join (Suri-Vassilvitskii) — the oriented edge table materializes once; the wedge self-join and the closing join shuffle 3-long rows keyed on (u) and (v1, v2); per-node credit is one map-side-combined aggregate. Orientation bounds the wedge stage at O(|E|^1.5) regardless of hub skew."),
      ("d_dedup_cdc_chunks", "Content-defined chunk dedup: cuts, chunk assembly, and the 60-bit chunk hash all evaluate inside the scan-stage Project/Generate (native window-hash kernel + HOFs); chunk TEXT is dropped at the scan, so the ownership aggregate and hash-keyed rejoin move (hash60, doc_id, chunk_idx, len) longs only."),
      ("d_zorder", "Z-order layout report: the Morton interleave is a 16-term integer expression inside whole-stage codegen (map-only, after a broadcast 1-row max join); both layouts aggregate map-side to ≤256 file rows before the final 2-row report — no corpus-sized exchange at all."),
      ("s_silhouette", "Silhouette audit: embeddings are consumed in the scan stage (broadcast nLists-row centroid join + cosine projection); the per-vector ranking window and per-list aggregate shuffle (vec_id, list_id, cos/micro-long) scalars — embedding arrays never ride an exchange."),
      ("g_shortest_path", "Multi-source BFS: per round, ONLY the frontier joins the materialized (src-partitioned) edge table — total join work across all rounds is O(|E|); the visited anti-join is node-sized and every exchange carries two longs."),
      ("q_skyline", "Pareto skyline: the corpus reduces map-side to the supplier aggregate; a broadcast coarse-bucket min table prunes dominated points BEFORE the exact pass, so the global sort window runs over the frontier-dense residual, not the corpus."),
      ("d_dedup_index!probe", "Persisted-index probe (r11; the LIVE probe plan — the driver row pins its result before deleting the scratch index, which would dump as a bare RDD scan): the store scan's PushedFilters carries the delta's per-band key bounds (band is the partition column, key the files' sort order — partition pruning + row-group min/max stats skip bucket ranges no delta key can touch); candidate and verify exchanges carry ids + longs, and stored corpus TEXT is never read — probe IO is O(delta + matched buckets) however large the index.")
    )
    out.append("# PLANS — physical-plan evidence (sf0.01, local[32])\n\n")
    out.append("Regenerate with `sbt \"runMain graft.PlanDump\"`.\n")
    for ((name, note) <- picks) {
      var scratch: Option[java.nio.file.Path] = None
      val df = if (name == "d_dedup_index!probe") {
        // live probe plan over a scratch index (see note above)
        import org.apache.spark.sql.functions.col
        val docs = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))
        val delta = docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 500000000L).as("doc_id"), col("text"))
        val idx = Files.createTempDirectory("graft-plandump-didx")
        scratch = Some(idx)
        graft.operators.Dedup.writeDedupIndex(docs, idx.toString)
        graft.operators.Dedup.probeDedupIndex(spark, idx.toString, delta)
      } else SparkEntry.queries(name)(spark, dir)
      // the probe plan's store scan (the PushedFilters evidence) sits
      // below the 40-line cut — give that one entry more room
      val cap = if (name.endsWith("!probe")) 70 else 40
      out.append(s"\n## ${name.stripSuffix("!probe")}\n\n$note\n\n```\n")
      out.append(df.queryExecution.executedPlan.toString.linesIterator.map(_.take(200)).take(cap).mkString("\n"))
      out.append("\n```\n")
      // the plan string is captured above — drop the scratch index so
      // repeated PlanDump runs don't accumulate sf0.01 indexes in /tmp
      scratch.foreach { p =>
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => Files.deleteIfExists(q))
      }
    }
    Files.writeString(Paths.get("PLANS.md"), out.toString) // in the working directory
    spark.stop()
  }
}
