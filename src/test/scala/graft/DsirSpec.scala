package graft

import graft.pipeline.Dsir
import org.apache.spark.sql.functions._

class DsirSpec extends SparkTestBase {
  import spark.implicits._

  // target domain: legal-ish; raw: mixed legal / cooking / empty
  private def target = Seq(
    (100L, "the court held that the contract was void"),
    (101L, "the plaintiff appealed the judgment of the court"),
    (102L, "the contract terms bind the parties")
  ).toDF("doc_id", "text")

  private def raw = Seq(
    (1L, "the court found the contract enforceable"),
    (2L, "whisk the eggs and fold in the flour"),
    (3L, "simmer the sauce until thick"),
    (4L, "the judgment of the court was appealed by the plaintiff"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("importanceWeights: domain docs outrank off-domain; empty doc gets 0") {
    val w = Dsir.importanceWeights(raw, target, "text", "doc_id", buckets = 1 << 12)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(w(5L) == ((0L, 0.0)), s"empty doc: ${w(5L)}")
    // every legal doc must outweigh every cooking doc
    for (legal <- Seq(1L, 4L); cook <- Seq(2L, 3L))
      assert(w(legal)._2 > w(cook)._2,
        s"doc $legal (${w(legal)._2}) should outrank doc $cook (${w(cook)._2})")
    // n_feats = unigrams + bigrams
    assert(w(1L)._1 == 6L + 5L)
  }

  test("weights are deterministic across partition layouts (ordered fold)") {
    val a = Dsir.importanceWeights(raw.repartition(1), target, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val b = Dsir.importanceWeights(raw.repartition(7), target.repartition(3),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(a == b, s"$a vs $b")
  }

  test("resample: deterministic top-k picks the domain docs; gumbel is seed-stable") {
    val top = Dsir.resample(raw, target, "text", "doc_id", k = 2)
      .select("id").as[Long].collect().toSet
    assert(top == Set(1L, 4L), s"got $top")

    val g1 = Dsir.resample(raw, target, "text", "doc_id", k = 3,
      gumbelSeed = Some(42L)).select("id").as[Long].collect().toSeq
    val g2 = Dsir.resample(raw, target, "text", "doc_id", k = 3,
      gumbelSeed = Some(42L)).select("id").as[Long].collect().toSeq
    assert(g1 == g2, "same seed must redraw the same sample")
    // different seeds CAN differ; just assert the draw is a valid subset
    // of the SCOREABLE docs (empty doc 5 is excluded from selection)
    assert(g1.toSet.subsetOf(Set(1L, 2L, 3L, 4L)) && g1.size == 3)
  }

  test("bucketCounts is mergeable: shard sums == whole-corpus counts") {
    val whole = Dsir.bucketCounts(raw, "text", "doc_id")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sharded = Dsir.bucketCounts(raw.filter($"doc_id" <= 2), "text", "doc_id")
      .unionAll(Dsir.bucketCounts(raw.filter($"doc_id" > 2), "text", "doc_id"))
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(whole == sharded)
  }

  test("plan: scoring is join-free and shuffle-free (r17 per-row weights)") {
    // materialize=false exposes the lazy plan (default eagerly
    // checkpoints, which reduces the visible plan to an RDD scan).
    // r17 opt: the per-doc weight is one compiled in-row pass over the
    // doc's bucket pairs with a config-sized log-ratio reference array —
    // the scoring stage must carry NO join and NO exchange at all (the
    // old shape broadcast-joined the ratio table and re-grouped by id).
    val qe = Dsir.importanceWeights(raw, target, "text", "doc_id",
        materialize = false).queryExecution
    // the expression lives in the analyzed plan (ConvertToLocalRelation
    // folds this local-relation fixture into a LocalTableScan physically)
    assert(qe.analyzed.toString.contains("bucket_weight_sum"), qe.analyzed.toString)
    val plan = qe.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
  }

  test("guards: bad buckets/alpha/k, empty corpora") {
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, target, "text", "doc_id", buckets = 0))
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, target, "text", "doc_id", alpha = 0.0))
    intercept[IllegalArgumentException](
      Dsir.resample(raw, target, "text", "doc_id", k = 0))
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, raw.filter($"doc_id" < 0), "text", "doc_id"))
  }

  test("empty-corpus failure releases the tokenized cache (r15 persist audit)") {
    // the loud require path is a session-survivable user error — the
    // persisted (id, bucket, tf) frame must not leak past it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException](
      Dsir.importanceWeights(raw, raw.filter($"doc_id" < 0), "text", "doc_id"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("importanceWeights(materialize = true) destroys its ratio broadcast") {
    import org.apache.spark.SparkEnv
    import org.apache.spark.storage.BroadcastBlockId
    // an odd bucket count: the only broadcast holding a Double array of
    // this length is the call's ratio table
    val buckets = 3001
    def ratioTables(): Int = {
      val bm = SparkEnv.get.blockManager
      bm.getMatchingBlockIds {
        case BroadcastBlockId(_, "") => true
        case _ => false
      }.count { id =>
        // consuming the values releases the block's read lock
        bm.getLocalValues(id).exists(_.data.toList match {
          case List(a: Array[Double]) => a.length == buckets
          case _ => false
        })
      }
    }
    def settle(want: Int): Int = {
      // destroy() removes the blocks asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var n = ratioTables()
      while (n > want && System.nanoTime() < deadline) {
        Thread.sleep(50); n = ratioTables()
      }
      n
    }
    val before = ratioTables()
    val w = Dsir.importanceWeights(raw, target, "text", "doc_id", buckets)
    assert(settle(before) == before, "the ratio broadcast outlived the call")
    assert(w.count() == 5, "the checkpointed weights must stay readable")
    graft.core.Checkpoints.release(w)
    // the lazy plan reads the broadcast, so it stays
    val lazyW = Dsir.importanceWeights(raw, target, "text", "doc_id", buckets,
      materialize = false)
    assert(ratioTables() == before + 1)
    assert(lazyW.count() == 5)
  }
}
