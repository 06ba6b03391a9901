package graft
package queries

import graft.operators._
import graft.queries.SqlFragments._
import graft.streaming.DocumentStreams

/** Split hygiene: content-hash train/val/test splits and leak-free splitting. */
object SplitQueries {
  // continuous-ingestion twin: frozen corpus clusters+splits, arriving
  // docs inherit the split of their matched cluster (or hash-split as
  // fresh singletons) — a late near-copy of a test doc never trains
  private val leakfreeSplitIncremental = QueryDef("q_leakfree_split_incremental",
    (s, dir) =>
      Splits.incrementalLeakFreeSplit(
        Tables.documents(s, dir), SignatureStore.table(s, dir)),
    // Incremental twin: corpus-side clusters + split are the frozen
    // artifact; a shard doc inherits the split of its minimum matched
    // corpus cluster, or opens a hash-split singleton: corpus-side
    // recursive-CTE components + brute-force cross-boundary probe + the
    // coalesced split CASE (inherited cluster id, else the arrival's own).
    s"""WITH RECURSIVE sh AS MATERIALIZED ($shCte),
       |$ingestSideCtes,
       |${jaccardPairCtes(out = "cpairs", left = "shc", right = "shc",
          pfx = "cj")},
       |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM cpairs
       |  UNION SELECT doc_b, doc_a FROM cpairs),
       |reach(id, root) AS (
       |  SELECT doc_id, doc_id FROM documents, sp WHERE doc_id < sp.split
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
       |labels AS (SELECT id AS doc_id, min(root) AS cluster_id
       |  FROM reach GROUP BY id),
       |${jaccardPairCtes(out = "probe", left = "shc", right = "shs",
          aCol = "corpus_doc", bCol = "shard_doc", sym = false, pfx = "pj")},
       |inh AS (SELECT p.shard_doc AS doc_id, min(l.cluster_id) AS cluster_id
       |  FROM probe p JOIN labels l ON p.corpus_doc = l.doc_id
       |  GROUP BY p.shard_doc),
       |shard AS (SELECT doc_id FROM documents, sp WHERE doc_id >= sp.split)
       |SELECT s.doc_id, coalesce(i.cluster_id, s.doc_id) AS cluster_id,
       |  ${splitCaseSql("coalesce(i.cluster_id, s.doc_id)")} AS split,
       |  i.cluster_id IS NOT NULL AS inherited
       |FROM shard s LEFT JOIN inh i USING (doc_id)""".stripMargin)

  val all: Seq[QueryDef] = Seq(
    // deterministic 90/5/5 content-hash split: per-(source, split) docs/tokens
    QueryDef("q_split_assign", (s, dir) => Splits.splitAllocation(Tables.documents(s, dir)),
      // Per-(source, split) allocation rollup; the split CASE is the shared
      // splitSql helper, interpolating the Splits constants.
      s"""SELECT source, ${splitSql("doc_id")} AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1, 2""".stripMargin),
    // train<->heldout contamination: near-dup pairs crossing split lines
    // (split is a per-row hash CASE on the pair endpoints — zero extra joins)
    QueryDef("q_split_leakage",
      (s, dir) =>
        Splits.splitLeakage(Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Near-dup pairs (shared brute-force CTE) whose endpoints straddle a
      // split line; each side's split is the same hash CASE as q_split_assign.
      s"""WITH sh AS MATERIALIZED ($shCte),
         |$neardupPairsCte,
         |sp AS (SELECT doc_a, doc_b, jaccard,
         |    ${splitSql("doc_a")} AS split_a, ${splitSql("doc_b")} AS split_b
         |  FROM pairs)
         |SELECT doc_a, doc_b, jaccard, split_a, split_b,
         |  (split_a = 'train' OR split_b = 'train') AS train_leak
         |FROM sp WHERE split_a <> split_b""".stripMargin),
    // decontamination by construction: split by near-dup CLUSTER id, so
    // no mined pair can straddle a split line (leakage empty by design)
    QueryDef("q_leakfree_split",
      (s, dir) =>
        Splits.leakFreeSplit(
          Tables.documents(s, dir),
          Dedup.nearDuplicatePairsFromTable(SignatureStore.table(s, dir))),
      // Leak-free split: the clusters CTE (identical to q_dedup_clusters)
      // plus the splitOf hash CASE on the CLUSTER id — thresholds and seed
      // interpolated from Splits so the two engines cannot drift.
      {
        import graft.operators.Splits
        s"""WITH RECURSIVE sh AS MATERIALIZED ($shCte),
           |$neardupPairsCte,
           |edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |reach(id, root) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id),
           |labels AS MATERIALIZED (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
           |sizes AS (SELECT cluster_id, count(*) AS cluster_n FROM labels GROUP BY 1)
           |SELECT l.doc_id, l.cluster_id, s.cluster_n,
           |  ${splitCaseSql("l.cluster_id")} AS split
           |FROM labels l JOIN sizes s USING (cluster_id)""".stripMargin
      }),
    leakfreeSplitIncremental,
    // the same assignment as continuous ingestion: frozen index +
    // assignment, per micro-batch probe + shared assignment tail; a full
    // drain equals the batch twin row-for-row
    QueryDef.twin("q_stream_leakfree_split", leakfreeSplitIncremental,
      (s, dir) => DocumentStreams.leakFreeSplitsToBatch(s, dir)),
  )

  /** The `Splits.splitOf` 90/5/5 hash CASE over an arbitrary SQL
    * expression — thresholds and seed interpolated from the operator.
    */
  private def splitCaseSql(x: String): String = {
    import graft.operators.Splits
    s"""CASE WHEN ${h60(Splits.SplitSeed, x)} % ${Splits.SplitBuckets}
       |       < ${Splits.TrainMilli} THEN 'train'
       |     WHEN ${h60(Splits.SplitSeed, x)} % ${Splits.SplitBuckets}
       |       < ${Splits.ValMilli} THEN 'val'
       |     ELSE 'test' END""".stripMargin
  }
}
