package graft.queries

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the end-to-end flood integration composition (q140/q141): the
  * reference's whole `forecast` asset chain (discharge.py:223-409) from
  * GRIB2 ensemble bytes + the RP NetCDF thresholds runs as ONE Catalyst
  * DAG whose only materialization is the audited `detailed` cache. The
  * thresholds are the in-repo data/rp_nc fixture: the real GloFAS grids'
  * values, written as chunked NetCDF-4 by Hdf5Writer and cross-checked
  * against the independent python HDF5 parser (FIXTURES.md §10).
  */
class E2eFloodSpec extends SparkSpec {

  test("e2e summary plan: one DAG from bytes with exactly one cache") {
    val df = Registry.queries("q141_e2e_summary")(spark, "/root/testdata/sf0.001")
    val caches = df.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r
    }
    // exactly one materialization: the audited `detailed` cache
    assert(caches.nonEmpty, "detailed cache missing from the plan")
    assert(caches.map(System.identityHashCode(_)).distinct.size == 1 ||
      caches.map(_.cacheBuilder.cachedPlan.canonicalized).distinct.size == 1,
      "more than one distinct materialization in the composed plan")
    // the cached subplan itself starts at the BINARY scans — GRIB bytes on
    // the forecast side, the three real NetCDFs on the threshold side
    val cached = caches.head.cacheBuilder.cachedPlan.toString
    assert(cached.contains("graft_grib"), "forecast side must scan GRIB bytes")
    assert(cached.contains("graft_netcdf"), "threshold side must scan NetCDF bytes")
    // small threshold dimension is broadcast, never shuffled
    assert(cached.contains("BroadcastHashJoin"),
      "threshold join must broadcast the dimension")
  }

  test("e2e detailed rows reconcile with summary cells") {
    val detailed = Registry.queries("q140_e2e_detailed")(spark, "/root/testdata/sf0.001")
    val summary = Registry.queries("q141_e2e_summary")(spark, "/root/testdata/sf0.001")
    val dCells = detailed.select("latitude", "longitude").distinct().count()
    val sCells = summary.count()
    assert(dCells == sCells, s"detailed cells $dCells != summary cells $sCells")
    // 5 lead-time steps per surviving cell, straight from the GRIB messages
    assert(detailed.groupBy("latitude", "longitude").count()
      .filter(col("count") =!= 5).count() == 0)
  }
}
