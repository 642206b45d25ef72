package graft

import graft.core.{Checkpoints, PlanHash}
import graft.queries.Registry

/** Every cache, checkpoint and view a query makes ends with the query:
  * `Checkpoints.releaseAll` leaves nothing behind, so the next query's
  * plan (and its hash) does not depend on which queries ran before it.
  */
class QueryLifetimeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("releaseAll leaves no cache, persistent RDD or temp view behind") {
    // a fresh session: temp views are per session, caches are shared
    val s = spark.newSession()
    val sc = s.sparkContext
    val cm = s.sharedState.cacheManager
    // the IVF index, the curation DAG's checkpoints, q162's eval grams
    // and bloom subquery, q183's eval grams and stream tables
    for (n <- Seq("q45_ivf_search", "q147_corpus_curation",
        "q162_bloom_decontaminate", "q183_stream_curation")) {
      Registry.queries(n)(s, dir).collect()
    }
    assert(sc.getPersistentRDDs.nonEmpty && !cm.isEmpty,
      "the four queries should hold caches before the release")
    Checkpoints.releaseAll(s)
    assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs)
    assert(cm.isEmpty, "the cache manager still holds entries")
    val views = s.catalog.listTables().collect().filter(_.isTemporary)
    assert(views.isEmpty, views.map(_.name).mkString(", "))
  }

  test("q39's hash does not depend on q147 having been built before it") {
    // q147 leaves a cache entry whose plan matches a subtree of q39's:
    // without the release between them, q39 plans an InMemoryRelation
    // there and hashes differently from a build on its own
    def hash(n: String) = PlanHash.of(Registry.queries(n)(spark, dir))
    Checkpoints.releaseAll(spark)
    val alone = hash("q39_corpus_pipeline")
    Checkpoints.releaseAll(spark)
    Registry.queries("q147_corpus_curation")(spark, dir)
    Checkpoints.releaseAll(spark)
    assert(hash("q39_corpus_pipeline") == alone)
    Checkpoints.releaseAll(spark)
  }
}
