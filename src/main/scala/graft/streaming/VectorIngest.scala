package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Staging.StagedDataFrame

/** Ingest-time ANN list assignment: a STREAM of incoming vectors is routed
  * to its IVF list through the SAME two-level quantizer the batch index
  * was built with — the vector sibling of [[CorpusIngest]]'s dedup, and
  * the production shape of a live embedding pipeline (new vectors must
  * land in the right posting list without a full-corpus batch job).
  *
  * Composition of the index artifacts, per tier:
  *   - the FIRST-LEVEL CELLS (~N^¼ rows, kilobytes at 1e9 vectors) ship
  *     as literals inside the streaming plan — the quantizer metadata an
  *     ingest node holds in memory; the per-row top-p1 cell probe is a
  *     pure projection (transform → array_sort → slice), NO state;
  *   - the CENTROIDS ride a broadcast stream-static EQUI-join on c1_id,
  *     packed as one array row per cell so the in-cell argmin is a
  *     stateless array_min over (d2, cent_id) structs;
  *   - the only stateful operator is the final per-vector min across the
  *     p1 probed cells — state is one row per INGESTED vector (bounded by
  *     the ingest window, not the corpus).
  *
  * Everything is fixed-point quantized (AnnSql.kmQSpark), so every d2 and
  * every tie-break is integer arithmetic carried in doubles below 2^53 —
  * the streamed assignment is bit-identical to the DuckDB oracle's batch
  * closed form (same stride/cell/probe conventions, mirrored SQL).
  */
object VectorIngest {

  /** Probed first-level cells per ingested vector. */
  val p1 = 2

  /** Stage the "incoming vectors" fixture (vec_id % 10 = 9) once per dir
    * as two files so the replay exercises multiple micro-batches.
    */
  private[streaming] def stage(spark: SparkSession, dir: String): String =
    graft.Staging.fixture("vecs_new", dir) { path =>
      spark.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 10 === 9)
        .select("vec_id", "embedding")
        .coalesce(2).write.mode("overwrite").parquet(path)
    }

  /** Spark-dialect squared distance over the quantized vectors. */
  private[streaming] def d2Spark(a: String, b: String): String =
    s"graft_dot_d($a, $a) + graft_dot_d($b, $b) - 2 * graft_dot_d($a, $b)"

  /** The two-level-quantizer index chain (corpus → seed stride → centroid
    * tier → cell tier → centroid→cell assignment), parameterized on
    * dialect: `d2` emits the squared-distance expression, `quant` the
    * fixed-point quantizer, `table` the embeddings source. Everything
    * downstream of those three is dialect-neutral SQL, so the THREE
    * consumers — this file's streaming index build, the DuckDB oracle's
    * batch closed form, and VectorIngestSpec's in-Spark batch replay —
    * share this single body: the stream == batch == oracle equality can
    * no longer be broken by editing one hand-kept copy.
    *
    * Conventions: centroid seeds stride over the corpus subset's DENSE
    * row number (the subset's vec_ids are multiples of 10, so `vec_id %
    * stride` would hit the lcm-thinning trap the sampled-kmeans pin
    * documents); cells stride over the centroid rank.
    */
  private[streaming] def indexCtes(
      d2: (String, String) => String, quant: String, table: String): String =
    s"""WITH corpus AS (SELECT vec_id, $quant AS v,
       |                       row_number() OVER (ORDER BY vec_id) - 1 AS rid
       |                FROM $table WHERE vec_id % 10 = 0),
       |st AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS stride FROM corpus),
       |c AS (SELECT vec_id AS cent_id, v AS cv FROM corpus
       |      WHERE rid % (SELECT stride FROM st) = 0),
       |n2 AS (SELECT CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / CEIL(SQRT(CAST(COUNT(*) AS DOUBLE)))) AS BIGINT) AS s1 FROM c),
       |c1 AS (SELECT cent_id AS c1_id, cv AS c1e FROM (
       |  SELECT cent_id, cv, row_number() OVER (ORDER BY cent_id) AS rn FROM c) t
       |  WHERE (rn - 1) % (SELECT s1 FROM n2) = 0),
       |a21 AS (SELECT cent_id, cv, c1_id FROM (
       |  SELECT c.cent_id, c.cv, c1.c1_id,
       |         row_number() OVER (PARTITION BY c.cent_id
       |           ORDER BY ${d2("c.cv", "c1.c1e")}, c1.c1_id) AS rn
       |  FROM c CROSS JOIN c1) t WHERE rn = 1)""".stripMargin

  /** The full batch closed form of the streamed assignment: index chain +
    * incoming-vector probe (top-p1 cells) + in-cell argmin. Runs verbatim
    * on BOTH engines given their d2/quant dialects — the DuckDB oracle and
    * the Spark-side spec replay are textually this one query.
    */
  private[streaming] def closedFormSql(
      d2: (String, String) => String, quant: String, table: String): String =
    s"""${indexCtes(d2, quant, table)},
       |nv AS (SELECT vec_id, $quant AS v FROM $table WHERE vec_id % 10 = 9),
       |p AS (SELECT vec_id, v, c1_id FROM (
       |  SELECT nv.vec_id, nv.v, c1.c1_id,
       |         row_number() OVER (PARTITION BY nv.vec_id
       |           ORDER BY ${d2("nv.v", "c1.c1e")}, c1.c1_id) AS rn
       |  FROM nv CROSS JOIN c1) t WHERE rn <= $p1),
       |asn AS (SELECT vec_id, cent_id, d2 FROM (
       |  SELECT p.vec_id, a.cent_id, ${d2("p.v", "a.cv")} AS d2,
       |         row_number() OVER (PARTITION BY p.vec_id
       |           ORDER BY ${d2("p.v", "a.cv")}, a.cent_id) AS rn
       |  FROM p JOIN a21 a ON p.c1_id = a.c1_id) t WHERE rn = 1)
       |SELECT vec_id, cent_id, CAST(d2 AS BIGINT) AS d2
       |FROM asn ORDER BY vec_id""".stripMargin

  /** DuckDB dialect of the closed form (the driver oracle). */
  def oracleSql: String = {
    def d2Duck(a: String, b: String) =
      s"list_dot_product($a, $a) + list_dot_product($b, $b) - 2 * list_dot_product($a, $b)"
    closedFormSql(d2Duck, graft.llm.AnnSql.kmQ, "embeddings")
  }

  /** Spark dialect of the closed form (the spec's batch replay). */
  def sparkClosedFormSql: String =
    closedFormSql(d2Spark, graft.llm.AnnSql.kmQSpark, "embeddings")

  private def indexSql: String =
    indexCtes(d2Spark, graft.llm.AnnSql.kmQSpark, "vecingest_embeddings") + "\n"

  /** (cells as in-memory metadata, per-cell centroid arrays as a table). */
  final case class CellIndex(cells: Seq[(Long, Seq[Double])], members: DataFrame)

  private val cellIndex = new graft.Artifacts.Value[CellIndex]

  def buildIndex(spark: SparkSession, dir: String): CellIndex =
    cellIndex(spark, dir) {
      org.apache.spark.sql.graftbridge.GraftSession.install(spark)
      // a DEDICATED view name: the shared `embeddings` fixture view is
      // shadowable by test fixtures on the same session, and an index
      // silently built from a shadow would mis-route every ingested vector
      spark.read.parquet(s"$dir/embeddings.parquet")
        .createOrReplaceTempView("vecingest_embeddings")
      val cells = spark
        .sql(indexSql + "SELECT c1_id, c1e FROM c1 ORDER BY c1_id")
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
        .toSeq
      val members = spark
        .sql(indexSql +
          "SELECT c1_id, collect_list(struct(cent_id, cv)) AS members FROM a21 GROUP BY c1_id")
        .staged() // the persistent index artifact
      CellIndex(cells, members)
    }

  /** One row per ingested vector: its assigned list and exact (quantized)
    * squared distance to the list centroid.
    */
  def assignIngest(spark: SparkSession, dir: String, index: CellIndex): DataFrame = {
    org.apache.spark.sql.graftbridge.GraftSession.install(spark)

    // the cell table as a literal array expression — the quantizer
    // metadata every ingest executor holds (N^(1/4) x dim doubles)
    val cellsLit = index.cells
      .map { case (id, ce) =>
        s"struct(CAST($id AS BIGINT) AS id, array(${ce.map(v => s"${v}D").mkString(", ")}) AS ce)"
      }
      .mkString("array(", ", ", ")")

    // one ingest batch per trigger
    val incoming = EventStream.replay(spark, stage(spark, dir), Map("maxFilesPerTrigger" -> "1"))
      .selectExpr("vec_id", s"${graft.llm.AnnSql.kmQSpark} AS v")
      // top-p1 cells: pure projection, deterministic (d2, id) sort
      .selectExpr("vec_id", "v",
        s"""slice(array_sort(transform($cellsLit,
           |  c -> struct(${d2Spark("v", "c.ce")} AS d, c.id AS id))), 1, $p1) AS probed""".stripMargin)
      .select(col("vec_id"), col("v"), explode(col("probed")).as("pc"))
      .select(col("vec_id"), col("v"), col("pc.id").as("c1_id"))

    val best = incoming
      .join(broadcast(index.members), "c1_id")
      // in-cell argmin: stateless lexicographic array_min over (d2, id)
      .selectExpr("vec_id",
        s"""array_min(transform(members,
           |  m -> struct(${d2Spark("v", "m.cv")} AS d, m.cent_id AS id))) AS best""".stripMargin)
      // the ONLY stateful operator: min across the p1 probed cells,
      // keyed by the ingested vector (state = ingest-window size)
      .groupBy("vec_id")
      .agg(min(col("best")).as("t"))

    EventStream.runToTable(best, "complete")
      .select(col("vec_id"), col("t.id").as("cent_id"),
        col("t.d").cast("bigint").as("d2"))
      .orderBy("vec_id")
  }
}
