package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see SURVEY.md §2 for the operator inventory.
  *
  * Every implemented operator appears in [[queries]] with a DuckDB twin in
  * [[oracleSql]] under the same key, producing identically-named,
  * engine-portable columns (BIGINT money/timestamps, hex-string hashes —
  * see SURVEY §6). Both maps fold [[Sets]], which names each query set
  * once; the fold rejects a key defined twice and a key without its twin.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full enrichment chain: synthetic raw collector columns → atomic
    * event projection (one codegen'd stage, no shuffle). */
  def entry(spark: SparkSession): DataFrame =
    queries("enrich_pipeline")(spark, "/root/testdata/sf0.001")

  /** Every query set, each listed once. */
  private[graft] val Sets: Seq[QuerySet] = Seq(
    EnrichQueries, AnalyticsQueries, LlmQueries, Queries2, Queries3, Queries4, Queries5, Queries6,
    Queries7, Queries8, Queries9, Queries10, Queries11, Queries12, Queries13, Queries14, Queries15,
    Queries16, Queries17, Queries18, Queries19, Queries20, Queries21, Queries22, Queries23,
    Queries24, Queries25, Queries26, Queries27, Queries28, Queries29, Queries30, Queries31,
    Queries32, Queries33, Queries34, Queries35, Queries36, Queries37, Queries38, Queries39,
    Queries40, Queries41, Queries42, Queries43, Queries44, Queries45, Queries46, Queries47,
    Queries48, Queries49, Queries50, Queries51, Queries52, Queries53, Queries54, Queries55,
    Queries56, Queries57, Queries58, Queries59, Queries60, Queries61, Queries62, Queries63,
    Queries64, Queries65, Queries66, Queries67, Queries68, Queries69, Queries70, Queries71,
    Queries72, Queries73, Queries74, Queries75, Queries76, Queries77, Queries78, Queries79,
    Queries80, Queries81, Queries82, Queries83, Queries84, Queries85, Queries86, Queries87,
    Queries88, Queries89, Queries90, Queries91, Queries92, Queries93, Queries94, Queries95,
    Queries96, Queries97, Queries98, Queries99, Queries100, Queries101, Queries102, Queries103,
    Queries104, Queries105, Queries106, Queries107, Queries108, Queries109, Queries110, Queries111,
    Queries112, Queries113, Queries114, Queries115, Queries116, Queries117, Queries118, Queries119,
    Queries120, Queries121, Queries122, Queries123, Queries124, Queries125, Queries126, Queries127,
    Queries128, Queries129, Queries130, Queries131, Queries132, Queries133, Queries134, Queries135,
    Queries136, Queries137, Queries138, Queries139, Queries140, Queries141, Queries142, Queries143,
    Queries144, Queries145, Queries146, Queries147, Queries148, Queries149, Queries150, Queries151,
    Queries152, Queries153, Queries154, Queries155, Queries156, Queries157, Queries158, Queries159,
    Queries160, Queries161, Queries162, Queries163, Queries164, Queries165, Queries166, Queries167,
    Queries168, Queries169, Queries170, Queries171, Queries172, Queries173, Queries174, Queries175,
    Queries176, Queries177, Queries178, Queries179, Queries180, Queries181, Queries182, Queries183,
    Queries184, Queries185, Queries186, Queries187, Queries188, Queries189, Queries190, Queries191,
    Queries192, Queries193, Queries194, Queries195, Queries196, Queries197, Queries198, Queries199,
    Queries200, Queries201, Queries202, Queries203, Queries204, Queries205, Queries206, Queries207,
    Queries208, Queries209, Queries210, PipelineQuery)

  private lazy val registry = QuerySet.union(Sets)

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry._1

  /** DuckDB twins, same column names/types (driver hash-compares). */
  lazy val oracleSql: Map[String, String] = registry._2
}
