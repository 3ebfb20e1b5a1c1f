package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.CorpusIngest
import graft.queries.Catalog
import graft.tools.PlanAudit

/** The catalog-wide checks, read from ONE pass over the catalog in name
  * order. Each query's frame is built once; its plan shape is read from
  * that frame before any action (the `tools.PlanAudit` gate), then its
  * rows are collected. Lifecycle queries do their warehouse work while
  * the frame is built, so a separate plan walk would run them again.
  *
  * Re-entrancy: every catalog query that writes a warehouse or model at
  * a FIXED path under `target/` must be re-runnable without manual
  * cleanup: Verify and Bench run back to back (and across scale
  * factors) against the same paths, with no `rm -rf` between. The round-8 gate failure was exactly this class of bug:
  * CorpusIngest.bootstrap left a previous generation's `batch>=1`
  * subtrees alive and the re-run served the DEAD generation's rows. So
  * the pass re-runs each fixed-path query at once, and the two result
  * sets must be identical (and non-empty, or the check is vacuous).
  * tempRoot-based queries (q136, q137, q148's ivf table) get a fresh
  * dir per run by construction.
  */
class CatalogSpec extends SparkSpec {

  private val fixedPathQueries = Seq(
    "q141_semdedup",            // graft_centroids/q141
    "q148_incremental_ivf",     // graft_centroids/q148
    "q149_bpe_tokenize",        // graft_bpe/merges + lexicon
    "q150_ivf_pq",              // graft_centroids/q150
    "q151_mojibake_repair",     // graft_mojibake/mapping
    "q152_bpe_pack",            // graft_bpe/merges_q152 + lexicon_q152
    "q154_nb_classifier",       // graft_nb/q154
    "q156_cluster_sample",      // graft_centroids/q156
    "q157_inverted_index",      // graft_invidx/q157
    "q160_phrase_search",       // graft_invidx/q160
    "q161_dsir_select",         // graft_dsir/q161
    "q162_corpus_build",        // graft_corpus/q162 (bootstrap)
    "q163_pq_codebooks",        // graft_centroids/q163 + graft_pq/q163
    "q164_proximity_search",    // graft_invidx/q164
    "q167_index_compact",       // graft_invidx/q167
    "q168_incremental_corpus",  // graft_corpus/q168 (bootstrap/rollback)
    "q170_adc_search",          // graft_centroids/q170 + graft_pq/q170
    "q171_auto_compact",        // graft_invidx/q171
    "q172_adc_ingest",          // graft_adc/q172
    "q173_maxscore_topk",       // graft_invidx/q173
    "q179_batch_search",        // graft_invidx/q179
    "q180_adc_compact",         // graft_adc/q180
    "q181_mmr_diversify",       // graft_adc/q181 + fixture marker
    "q184_warehouse_rrf",       // graft_invidx/q184 + graft_adc/q184
    "q185_bpe_fertility",       // graft_bpe/merges_q185 + fixture marker
                                //   + graft_unigram/pieces_q185
    "q187_unigram_tokenize",    // graft_unigram/pieces_q187
    "q189_ingest_funnel",       // graft_corpus/q189 (bootstrap/rollback)
    "q190_tiered_compact",      // graft_invidx/q190
    "q191_adc_tiered",          // graft_adc/q191
    "q192_langid_predict",      // graft_nb/q192
    "q193_semantic_decon",      // graft_adc/q193 + fixture marker
    "q194_recall_drift",        // graft_adc/q194 + fixture marker
    "q195_corpus_asof",         // graft_corpus/q195 + fixture marker
    "q196_invidx_rollback",     // graft_invidx/q196
    "q197_index_delete",        // graft_invidx/q197 + q197_rebuild
    "q198_vector_delete",       // graft_adc/q198
    "q199_corpus_delete",       // graft_corpus/q199
    "q200_boolean_search",      // graft_invidx/q200
    "q201_filtered_ann",        // graft_adc/q201
    "q202_warehouse_stats",     // graft_invidx/q202 + graft_adc/q202
    "q203_analyzed_search",     // graft_invidx/q203
    "q204_adc_retrain",         // graft_adc/q204
    "q205_tombstone_debt",      // graft_invidx/q205
    "q206_langid_ingest",       // graft_corpus/q206
    "q207_script_search",       // graft_invidx/q207
    "q208_retained_maintenance", // graft_invidx/q208
    "q209_analyzed_models",     // graft_bpe/q209, graft_dsir/q209, graft_nb/q209
    "q210_release_manifest")    // graft_release/q210

  private type Rows = Either[String, Seq[String]]

  /** A query's sorted result rows, or why it failed. */
  private def rows(df: => DataFrame): Rows =
    try Right(df.collect().map(_.toString).sorted.toSeq)
    catch {
      case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName))
    }

  /** (plan shape, rows of the built frame, rows of the re-run). A query
    * that fails to build or plan carries its failure in the plan shape
    * and no rows.
    */
  private lazy val pass: Seq[(PlanAudit.Result, Option[(Rows, Option[Rows])])] = {
    val fixed = fixedPathQueries.toSet
    PlanAudit.audit(spark, sfDir) { (name, df) =>
      val first = rows(df)
      (first, if (fixed(name)) Some(rows(SparkEntry.queries(name)(spark, sfDir)))
              else None)
    }
  }

  test("flagship entry returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    val served = df.collect().toSeq
    assert(served.nonEmpty)
    // the flagship serves the bootstrap warehouse its oracle reads, as
    // is: a build forked from CorpusIngest.bootstrap would not
    val wh = "'([^']*/q162)/mapping/".r
      .findFirstMatchIn(SparkEntry.oracleSql("q162_corpus_build"))
      .map(_.group(1)).getOrElse(fail("q162's oracle reads no mapping"))
    assert(CorpusIngest.lastBatch(spark, wh) == 0)
    val stored = CorpusIngest.read(spark, wh)
      .select(df.columns.map(col): _*).orderBy(col("doc_id"))
    assert(served == stored.collect().toSeq)
  }

  test("every oracleSql key has a matching query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("all catalog queries execute at sf0.001") {
    val bad = pass.flatMap {
      case (r, None) => Some(s"${r.name}: ${r.failure.getOrElse("")}")
      case (r, Some((Left(e), _))) => Some(s"${r.name}: $e")
      case _ => None
    }
    assert(bad.isEmpty, s"${bad.size} failed\n" + bad.mkString("\n"))
  }

  test("the gate fires on exceed, cartesian, plan failure, and missing entry") {
    import PlanAudit.Result
    val rs = Seq(
      Result("a", 3, "", cartesian = false, None), // 3 > allowed 2
      Result("b", 2, "", cartesian = true, None),
      Result("c", -1, "", cartesian = false, Some("boom")),
      Result("d", 1, "", cartesian = false, None)) // within allowance
    val v = PlanAudit.violations(rs, Map("a" -> 2, "b" -> 5, "c" -> 9, "d" -> 1))
    assert(v.exists(_.contains("3 exchanges > recorded 2")))
    assert(v.exists(_.contains("CARTESIAN")))
    assert(v.exists(_.contains("FAILED TO PLAN")))
    assert(!v.exists(_.startsWith("d:")) && v.size == 3)
    // a query absent from a non-empty allowlist is itself a violation
    assert(PlanAudit.violations(
      Seq(Result("x", 0, "", cartesian = false, None)), Map("y" -> 1))
      .exists(_.contains("not in")))
  }

  test("no catalog query exceeds its recorded exchange count") {
    val allowed = PlanAudit.allowlist().getOrElse("sf0.001", Map.empty)
    assert(allowed.nonEmpty,
      s"${PlanAudit.AllowFile} has no sf0.001 section — record it")
    val bad = PlanAudit.violations(pass.map(_._1), allowed)
    assert(bad.isEmpty, "\n" + bad.mkString("\n"))
  }

  test("every query whose oracle reads a fixed target/ warehouse is re-run") {
    val reading = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.contains("/target/graft_") => name
    }.toSet
    val unchecked = reading -- fixedPathQueries
    assert(reading.nonEmpty && unchecked.isEmpty,
      s"not in the re-run set: ${unchecked.toSeq.sorted}")
    // every target/ warehouse an oracle reads sits under the one root
    val outside = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      "'([^']*/target/graft_[^']*)'".r.findAllMatchIn(sql).map(_.group(1))
        .filterNot(_.startsWith(Catalog.root + "/")).map(p => s"$name: $p")
    }
    assert(outside.isEmpty, s"not under ${Catalog.root}:\n" +
      outside.sorted.mkString("\n"))
  }

  test("every fixed-path query is re-entrant in-session, no manual cleanup") {
    val missing = fixedPathQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown query names: $missing")
    val byName = pass.map { case (r, out) => r.name -> out }.toMap
    val bad = fixedPathQueries.flatMap { name =>
      byName(name) match {
        case None | Some((Left(_), _)) => Some(s"$name: first run failed")
        case Some((Right(first), again)) => again.get match {
          case Left(e) => Some(s"$name: re-run failed: $e")
          case Right(_) if first.isEmpty =>
            Some(s"$name: empty result (vacuous check)")
          case Right(second) if first != second =>
            Some(s"$name: re-run diverged (${first.size} vs " +
              s"${second.size} rows; first diff at " +
              s"${first.zip(second).indexWhere(p => p._1 != p._2)})")
          case _ => None
        }
      }
    }
    assert(bad.isEmpty, "\n" + bad.mkString("\n"))
  }
}
