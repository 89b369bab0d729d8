package graft

/** The approximate-family contract queries (sketch_*_contract,
  * stream_dgim_contract, the sim_* / mllib ANN contracts,
  * mm_decode_integrity) hard-gate their sketches through the driver's
  * DuckDB oracle at sf0.01; this spec pins the same all-booleans-true
  * invariant at sf0.001 so a contract break is caught by `sbt test`
  * before a driver round. */
class ContractSpec extends SparkSpec {

  private val contracts = Seq(
    "sketch_cms_contract", "sketch_bloom_contract", "sketch_hll_contract",
    "sketch_quantile_contract", "stream_dgim_contract", "sim_ann_contract",
    "mm_decode_integrity", "sketch_bloom_stats_contract",
    "sketch_bloom_faithful_contract", "mllib_ann_contract", "sim_pq_contract",
    "sim_ivfpq_contract", "sim_pca_contract", "sim_topic_contract")

  // rel_zorder_contract needs sf0.01: at sf0.001 l_suppkey spans only
  // 1..10, so sy carries no bits above the probe range and the z-value
  // order degenerates to px-major — both layouts read all 16 chunks and
  // z_prunes_half is legitimately false. The pruning claim starts holding
  // once sy spreads past the probe window (sf0.01: suppkey 1..100).
  test("rel_zorder_contract: z layout prunes at sf0.01") {
    val r = SparkEntry.queries("rel_zorder_contract")(spark, "/root/testdata/sf0.01")
      .collect().head
    assert(r.getAs[Boolean]("z_prunes_half"), s"z_prunes_half false: $r")
    assert(r.getAs[Boolean]("z_beats_linear"), s"z_beats_linear false: $r")
    spark.catalog.clearCache()
  }

  contracts.foreach { name =>
    test(s"$name: every contract boolean is true at sf0.001") {
      val df = SparkEntry.queries(name)(spark, sf001)
      val boolCols = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType)
        .map(_.name)
      assert(boolCols.nonEmpty, s"$name has no boolean contract columns")
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
      rows.foreach { r =>
        boolCols.foreach { c =>
          assert(r.getAs[Boolean](c), s"$name: $c is false in row $r")
        }
      }
      spark.catalog.clearCache()
    }
  }
}
