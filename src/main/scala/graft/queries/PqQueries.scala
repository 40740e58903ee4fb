package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Product quantization for embedding search (Jégou, Douze, Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)):
  * split each vector into [[PqM]] contiguous subspaces, learn a small
  * codebook per subspace by k-means, and store each vector as M small
  * codes. Search scores candidates with ADC (asymmetric distance
  * computation, §IV of the paper): the query stays exact, each candidate
  * is represented by its reconstruction, and the distance is a sum of M
  * table lookups.
  *
  * WHY THIS EXISTS AT 100 TB: a 64-dim float embedding is 256 bytes; its
  * PQ code is [[PqM]] small ints — 10 bytes at this geometry, 16 with
  * production byte codes (~25× compression).
  * The ANN scan's IO and memory are bounded by the CODE columns, not the
  * raw vectors; the raw vector is touched only when the query itself is
  * encoded (never per candidate). This is the standard billion-scale ANN
  * layout, and the reason a PQ index fits in memory when the corpus does
  * not.
  *
  * EVERYTHING IS EXACT INTEGER ARITHMETIC — one discipline further than
  * the tick-trained IVF quantizer ([[SimilarityQueries.ivfCentroids]]),
  * which keeps float centroids and relies on the cross-engine
  * float-op-order contract. Here the k-means runs entirely on the
  * [[SimilarityQueries.TickScale]] fixed-point grid with SNAPPED integer
  * centroids: each update is an exact long sum + one truncating-division
  * round (round-half-away-from-zero, [[snapMean]]), each assignment is
  * an argmin of exact squared L2 tick distances
  * ([[graft.functions.PqKernels.encode]], one fused codegen kernel over
  * all M subspaces), and every ADC
  * distance is a long. Consequences:
  *  - training is partition-invariant and bit-reproducible (PqSpec pins
  *    it) — no float partial-aggregate tree anywhere;
  *  - the DuckDB oracles need only SEMANTIC equality: any engine summing
  *    the same longs gets the same answer, so the replay carries no
  *    float-order caveat at all — the hardest oracle contract in the
  *    similarity family.
  *
  * Trainer shape: ONE distributed pass per round trains all M
  * subquantizers simultaneously (codes are a pure projection; the
  * per-(sub, cell, pos) exact sums are one groupBy), and the driver
  * collects only M·k·subdim longs per round — the [[SimilarityQueries
  * .ivfCentroids]] bounded-collect discipline. Production stages the
  * codebook like the IVF centroids (sources/Artifacts): train once on a
  * sample, materialize M·k rows, read back as literals everywhere.
  */
object PqQueries {

  /** PQ geometry — ONE definition each, interpolated into the oracle SQL
    * so both engines quantize identically. 16 subspaces × 4 dims covers
    * the 64-dim embedding at 32 codes per subspace (16·5 = 80-bit codes,
    * ~25× smaller than the 256-byte float vector; production uses k=256
    * byte codes — the arithmetic is identical). The geometry was SWEPT
    * on the test corpus (PqSpec's recall pin documents the numbers):
    * this corpus's embeddings are iid-uniform synthetic — the
    * distance-concentration worst case for ANY quantizer — and finer
    * subspaces with more codes bought recall 0.18 → 0.44 at equal
    * scan cost. Two rounds matches ivfCentroids (more rounds measured
    * recall-neutral here). */
  private[graft] val PqM = 16
  private[graft] val PqSubDim = 4
  private[graft] val PqK = 32
  private[graft] val PqIters = 2
  private[graft] val PqNProbe = 4

  /** The nprobe sweep grid of [[q_ann_nprobe_tune]] — doubling rungs up
    * to half the cell count, the deployment range a serving tier
    * actually chooses from. ONE definition, interpolated into the
    * oracle SQL. */
  private[graft] val NProbeLevels = Seq(1, 2, 4, 8)

  /** Coarse cell count of the RESIDUAL variant's integer k-means coarse
    * quantizer — matches the IVF family's 16 cells so the two IVFADC
    * variants differ only in what the codes quantize. */
  private[graft] val CoarseK = 16

  /** Round-half-away-from-zero of s/c in EXACT integer arithmetic:
    * truncating division of (2s ± c) by 2c. Scala's `/` truncates toward
    * zero exactly like DuckDB's `//`, so the oracle replays this formula
    * verbatim — no float mean anywhere in training. */
  private[graft] def snapMean(s: Long, c: Long): Long =
    (2 * s + (if (s < 0) -c else c)) / (2 * c)

  /** Binds the trained codebook to this session's PQ kernels and returns
    * (encode, dtabs) Column builders — `encode(tv)` yields STRUCT<cells,
    * poss, ds> (winning cell ids, their 0-based codebook positions — the
    * ADC lookup index — and the per-subspace reconstruction errors);
    * `dtabs(qtv)` yields the probe's per-subspace distance tables.
    *
    * The encode step is ONE codegen'd expression doing the whole M×k
    * argmin ([[graft.functions.PqKernels.encode]], ties to the smallest
    * cell). The first implementation composed it from M·k literal L2Sq
    * nodes + per-subspace array_sorts — janino threw
    * InternalCompilerException on the generated class and Spark fell
    * back to INTERPRETED eval, and each of the trainer's actions paid
    * seconds of analysis on the 512-node projection (measured: the PQ
    * trio was 3 of the suite's top-5 at 18.2s combined on 2000 rows;
    * the kernel form is plan-size-invariant in (M, k)). */
  private def bindKernels(s: SparkSession,
      books: Seq[(Int, Int, Seq[Long])], m: Int = PqM,
      subDim: Int = PqSubDim): (Column => Column, Column => Column) =
    graft.functions.PqFunctions.bind(s,
      graft.functions.PqBooks(books, m, subDim))

  /** The PQ codebook: (sub, cell, centroid ticks) sorted by (sub, cell),
    * trained by [[PqIters]] rounds of integer-snapped mini-Lloyd on the
    * tick grid. Cells are seeded per subspace from the first [[PqK]]
    * vectors' slices (cell id = seed vec_id); a cell that loses all
    * members simply drops out, identically in both engines. Driver
    * traffic per round is M·k·subdim longs — bounded by the codebook,
    * never the corpus. */
  private[graft] def pqCodebooks(vecs: DataFrame): Seq[(Int, Int, Seq[Long])] = {
    val s = vecs.sparkSession
    import s.implicits._
    trainBooksOn(SimilarityQueries.withTicks(vecs).select($"vec_id", $"tv"),
      PqM, PqSubDim, PqK, PqIters)
  }

  /** The generalized integer-snapped trainer over a pre-ticked frame
    * `(vec_id, tv)` at ANY (m, subDim, k, iters) geometry — the same
    * loop serves the product codebooks (m=16, subDim=4), the residual
    * variant's COARSE quantizer (m=1, subDim=64: plain tick-space
    * k-means, the paper's coarse step), and the residual codebooks
    * trained on what the coarse step left behind. */
  private[graft] def trainBooksOn(ticked: DataFrame, m: Int, subDim: Int,
      k: Int, iters: Int): Seq[(Int, Int, Seq[Long])] = {
    val s = ticked.sparkSession
    graft.Session.install(s)
    import s.implicits._
    var books: Seq[(Int, Int, Seq[Long])] = ticked.filter($"vec_id" < k)
      .select($"vec_id", $"tv")
      .as[(Long, Seq[Long])].collect().toSeq
      .flatMap { case (id, tv) =>
        (0 until m).map(sub =>
          (sub, id.toInt, tv.slice(sub * subDim, (sub + 1) * subDim)))
      }.sortBy(b => (b._1, b._2))
    if (books.isEmpty) return books
    (0 until iters).foreach { _ =>
      val interim = graft.functions.PqBooks(books, m, subDim)
      val (encode, _) = bindKernels(s, books, m, subDim)
      books = ticked
        .select($"tv", encode($"tv").getField("cells").as("cells"))
        .select(explode(array((0 until m).map(sub =>
          struct(lit(sub).as("sub"), element_at($"cells", sub + 1).as("cell"),
            slice($"tv", sub * subDim + 1, subDim).as("stv"))): _*)).as("x"))
        .select($"x.sub", $"x.cell", posexplode($"x.stv"))
        .toDF("sub", "cell", "pos", "t")
        .groupBy($"sub", $"cell", $"pos")
        .agg(sum($"t").as("s"), count(lit(1)).as("c"))
        .as[(Int, Int, Int, Long, Long)].collect().toSeq
        .groupBy(r => (r._1, r._2))
        .map { case ((sub, cell), rows) =>
          (sub, cell, rows.sortBy(_._3).map(r => snapMean(r._4, r._5)))
        }.toSeq.sortBy(b => (b._1, b._2))
      // the round's collect above ran eagerly, so this interim book's
      // registration is dead — drop it rather than let per-round names
      // pile up in the session registry
      graft.functions.PqFunctions.unbind(s, interim)
    }
    books
  }

  /** `(vec_id, cell, rv)` under a GIVEN coarse codebook — the coarse
    * assign-and-subtract ([[graft.functions.PqKernels.residual]]) as a
    * pure projection. Shared by the batch residual query (which trains
    * on it) and the streaming face's index build (which reads staged
    * books). */
  private[graft] def residualFrame(ticked: DataFrame,
      coarse: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    val s = ticked.sparkSession
    import s.implicits._
    val cResidual = graft.functions.PqFunctions.bindResidual(s,
      graft.functions.PqBooks(coarse, 1, PqM * PqSubDim))
    ticked.select($"vec_id", cResidual($"tv").as("cr"))
      .select($"vec_id", element_at($"cr.cells", 1).as("cell"),
        $"cr.rv".as("rv"))
  }

  /** The residual CODE-ONLY candidate frame `(vec_id, cell, poss)` —
    * all a residual ADC serve ever reads per candidate. */
  private[graft] def resCodes(resFrame: DataFrame,
      books: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    val s = resFrame.sparkSession
    import s.implicits._
    val (rEncode, _) = bindKernels(s, books)
    resFrame.select($"vec_id", $"cell",
      rEncode($"rv").getField("poss").as("poss"))
  }

  /** The residual probe frame `(query_id, cell, dtabs)`: coarse cells
    * ranked by exact tick L2 (ties to the smaller cell), one row per
    * probed cell carrying the probe's residual distance tables w.r.t.
    * THAT cell's centroid — §V's per-cell asymmetric tables, a pure
    * projection (nprobe·M·k longs per probe, broadcast downstream). */
  private[graft] def resProbes(probeTicked: DataFrame,
      coarse: Seq[(Int, Int, Seq[Long])],
      books: Seq[(Int, Int, Seq[Long])], nprobe: Int = PqNProbe): DataFrame = {
    val s = probeTicked.sparkSession
    import s.implicits._
    val (_, cDtabs) = bindKernels(s, coarse, 1, PqM * PqSubDim)
    val (_, rDtabs) = bindKernels(s, books)
    val cellIds = coarse.map(_._2)
    val ctMap = coarse.map(b => b._2 -> b._3).toMap
    val ranked = array_sort(zip_with(
      element_at(cDtabs($"qtv"), 1), typedLit(cellIds),
      (d, c) => struct(d.as("d"), c.as("cell"))))
    probeTicked
      .select($"query_id", $"qtv",
        explode(transform(slice(ranked, 1, nprobe),
          x => x.getField("cell"))).as("cell"))
      .select($"query_id", $"cell",
        rDtabs(zip_with($"qtv",
          element_at(typedLit(ctMap), $"cell"), (a, b) => a - b))
          .as("dtabs"))
  }

  private def emptyAnnShape(vecs: DataFrame): DataFrame = {
    import vecs.sparkSession.implicits._
    vecs.limit(0).select($"vec_id".as("query_id"), lit(1).as("rank"),
      $"vec_id".as("neighbor_id"), lit(0L).as("adist"))
  }

  /** The shared-codebook IVF-PQ scored pair frame `(query_id,
    * neighbor_id, adist)` — corner coarse cells, one codebook, the
    * broadcast-dtab ADC — shared by q_ann_ivfpq (which ranks it) and
    * the variant audit (which also counts it). */
  private[graft] def ivfpqPairs(s: SparkSession, vecs: DataFrame,
      books: Seq[(Int, Int, Seq[Long])]): DataFrame = {
    import s.implicits._
    val (encode, dtabs) = bindKernels(s, books)
    val cents = SimilarityQueries.semCentroids(16, PqM * PqSubDim)
    val ticked = SimilarityQueries.withTicks(vecs)
    val coded = ticked
      .select($"vec_id", $"v", encode($"tv").getField("poss").as("poss"))
    val assigned = SimilarityQueries.assignCells(coded, cents, "v")
      .select($"vec_id", $"cell", $"poss")
    val probedCells = ticked.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), dtabs($"tv").as("dtabs"),
        explode(SimilarityQueries.nearestCells(cents, $"v", PqNProbe))
          .as("cell"))
    assigned.join(broadcast(probedCells), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.PqFunctions.adist($"dtabs", $"poss").as("adist"))
  }

  /** The residual IVFADC scored pair frame — trains the coarse and
    * residual codebooks (callers guarantee a non-empty corpus), then
    * scores candidates in the probed cells against per-cell residual
    * tables. Shared by q_ann_ivfpq_res and the variant audit. A caller
    * that already ran the coarse chain (q_ann_ivfpq_res trains it for
    * its emptiness guard) passes it in so the [[PqIters]] distributed
    * passes and per-round driver collects run once, not twice. */
  private[graft] def resPairs(s: SparkSession, vecs: DataFrame,
      coarseIn: Option[Seq[(Int, Int, Seq[Long])]] = None): DataFrame = {
    import s.implicits._
    val ticked = SimilarityQueries.withTicks(vecs).select($"vec_id", $"tv")
    val coarse = coarseIn.getOrElse(
      trainBooksOn(ticked, 1, PqM * PqSubDim, CoarseK, PqIters))
    require(coarse.nonEmpty, "resPairs needs a non-empty corpus")
    val resFrame = residualFrame(ticked, coarse).localCheckpoint()
    val books = trainBooksOn(
      resFrame.select($"vec_id", $"rv".as("tv")),
      PqM, PqSubDim, PqK, PqIters)
    val cands = resCodes(resFrame, books)
    val probedCells = resProbes(
      ticked.filter($"vec_id" < 10)
        .select($"vec_id".as("query_id"), $"tv".as("qtv")),
      coarse, books)
    cands.join(broadcast(probedCells), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.PqFunctions.adist($"dtabs", $"poss").as("adist"))
  }

  /** Top-5 per probe under the family's (adist asc, neighbor asc)
    * order — the rank step every ADC serve ends with. */
  private def rankTop5(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    val w = Window.partitionBy($"query_id")
      .orderBy($"adist".asc, $"neighbor_id".asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"neighbor_id", $"adist")
      .orderBy("query_id", "rank")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The encode face: each embedding becomes M codes + its exact
    // integer reconstruction error. At 100 TB these code columns are
    // MATERIALIZED next to the corpus (the q_layout_zorder layout
    // device) and every ANN scan reads them instead of the 64-float
    // vector — 64× less IO by construction. Encoding is a pure
    // projection (ONE codegen'd kernel doing the M×k argmin,
    // [[graft.functions.PqEncode]] — no join, no window, no shuffle);
    // the trainer's driver traffic is
    // the codebook, never the corpus. recon_err doubles as the index-
    // quality monitor (rising quantization error on new data = retrain
    // signal). HARD oracle: the unrolled integer k-means + final
    // assignment replay exactly — every number is a long.
    "q_emb_pq_codes" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty)
        vecs.limit(0).select(
          ($"vec_id" +: (0 until PqM).map(m => lit(0).as(s"code_$m"))) :+
            lit(0L).as("recon_err"): _*)
      else {
        val (encode, _) = bindKernels(s, books)
        SimilarityQueries.withTicks(vecs)
          .select($"vec_id", encode($"tv").as("enc"))
          .select(
            ($"vec_id" +:
              (0 until PqM).map(m =>
                element_at($"enc.cells", m + 1).as(s"code_$m"))) :+
              (0 until PqM).map(m => element_at($"enc.ds", m + 1))
                .reduce(_ + _).as("recon_err"): _*)
          .orderBy("vec_id")
      }
    }),

    // ADC linear scan (the paper's §IV search baseline): probes
    // (vec_id < 10, the ANN family's convention) carry their M distance
    // tables as broadcast arrays; every corpus candidate is scored by
    // M table lookups + adds over its code positions (one codegen'd
    // pq_adist call). The scan's
    // per-candidate cost is INDEPENDENT of dimensionality — that, plus
    // reading codes instead of vectors, is the entire point of PQ.
    // Top-5 per probe by (adist asc, neighbor asc). The 10×N pair frame
    // is the documented exhaustive variant — q_ann_ivfpq below bounds
    // it with coarse cells; both return exact longs, so the oracle
    // replay is order-free semantic equality.
    "q_ann_pq" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty) emptyAnnShape(vecs)
      else {
        val (encode, dtabs) = bindKernels(s, books)
        val ticked = SimilarityQueries.withTicks(vecs).select($"vec_id", $"tv")
        val coded = ticked
          .select($"vec_id", encode($"tv").getField("poss").as("poss"))
        val probes = ticked.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), dtabs($"tv").as("dtabs"))
        val w = Window.partitionBy($"query_id")
          .orderBy($"adist".asc, $"neighbor_id".asc)
        coded.crossJoin(broadcast(probes))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            graft.functions.PqFunctions.adist($"dtabs", $"poss").as("adist"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .select($"query_id", $"rank", $"neighbor_id", $"adist")
          .orderBy("query_id", "rank")
      }
    }),

    // The ADC scan through the SQL FRONT DOOR — the surface's first
    // KERNEL-EXPRESSION twin (r18 verdict #7), extending the "two
    // surfaces, one operator set" claim from built-in operators into
    // the custom-codegen territory: training runs driver-side exactly
    // as in q_ann_pq (a trained artifact is an input to serving, not
    // a query), then the ENTIRE serve is one spark.sql text calling
    // the registered kernels by name — vec_guard, tick_vec, the
    // codebook-bound pq_encode_<tag>/pq_dtabs_<tag> (names
    // interpolated after binding), and the codebook-free pq_adist —
    // over the registered embeddings view. Oracle carried verbatim
    // from q_ann_pq; SqlFrontDoorSpec pins canonical-plan identity
    // twin-vs-twin, so a SQL user provably gets the same codegen'd
    // kernels, broadcast ADC shape, and results.
    "q_sql_ann_pq" -> ((s, dir) => {
      graft.sources.Views.registerTestdata(s, dir)
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty) emptyAnnShape(vecs)
      else {
        bindKernels(s, books)
        val (encN, dtN) = graft.functions.PqFunctions.boundNames(
          graft.functions.PqBooks(books, PqM, PqSubDim))
        s.sql(
          s"""WITH vecs AS (
             |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
             |  FROM embeddings),
             |guarded AS (
             |  SELECT vec_id, v FROM vecs
             |  WHERE v IS NOT NULL AND vec_guard(v)),
             |ticked AS (
             |  SELECT vec_id, tv FROM (
             |    SELECT vec_id, tick_vec(v) AS tv FROM guarded) t
             |  WHERE tv IS NOT NULL),
             |coded AS (
             |  SELECT vec_id, $encN(tv).poss AS poss FROM ticked),
             |probes AS (
             |  SELECT vec_id AS query_id, $dtN(tv) AS dtabs FROM ticked
             |  WHERE vec_id < 10),
             |pairs AS (
             |  SELECT /*+ BROADCAST(probes) */ query_id,
             |    vec_id AS neighbor_id, pq_adist(dtabs, poss) AS adist
             |  FROM coded CROSS JOIN probes
             |  WHERE vec_id <> query_id)
             |SELECT query_id, rank, neighbor_id, adist FROM (
             |  SELECT query_id, neighbor_id, adist, row_number() OVER (
             |    PARTITION BY query_id
             |    ORDER BY adist ASC, neighbor_id ASC) AS rank
             |  FROM pairs) r
             |WHERE rank <= 5
             |ORDER BY query_id, rank""".stripMargin)
      }
    }),

    // IVF-PQ — the paper's IVFADC structure (§V; the non-residual
    // variant: codes quantize the raw slices, not the cell residuals,
    // so ONE codebook serves every cell and the oracle stays a single
    // training chain). The coarse quantizer is the md5-corner one the
    // IVF family already oracle-replays (assignment on raw vectors,
    // cosine argmax); probes search their nprobe=4 nearest cells only.
    // At 100 TB: cell is the partition key, codes are the only columns
    // read — a probe touches nprobe/K of the corpus at M bytes per
    // candidate, which is the billion-scale ANN serving layout.
    // Everything after the cell join is the same broadcast-dtab ADC as
    // q_ann_pq.
    "q_ann_ivfpq" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty) emptyAnnShape(vecs)
      else rankTop5(ivfpqPairs(s, vecs, books))
    }),

    // The IVF deployment knob made measurable — the ANN family's
    // calibration audit (the q_lsh_tune / q_dedup_tau_sweep /
    // q_decontaminate_tune discipline, fourth of the family): per
    // nprobe rung, the recall-vs-scan-volume trade of the IVF-PQ serve
    // against EXACT tick-space L2 truth. Per (nprobe in {1,2,4,8}):
    // `candidates` = (probe, candidate) pairs ADC-scored inside the
    // rung's probed cells (the cost axis — the scan bound a serving
    // tier pays per query), `served` = top-5 rows returned, `hits` =
    // how many sit in the probe's exact-L2 top-5 (the quality axis;
    // recall@5 = hits/served). Everything is exact integer arithmetic
    // (ADC longs, truth longs, counts), so the whole sweep — training,
    // routing, serving, truth, recall — is ONE hard DuckDB hash-match.
    // At 100 TB this answers "what does dropping nprobe 8 -> 2 cost in
    // recall and buy in scan volume" from a sample, BEFORE committing
    // the serving tier; candidates grows with the probed share of the
    // corpus while truth stays a 10-probe broadcast brute scan.
    // Fan-out discipline: the scored candidate frame feeds both the
    // per-rung scan counts and the per-rung rankings — checkpointed
    // once; each downstream is a single window/aggregate over it.
    "q_ann_nprobe_tune" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty)
        vecs.limit(0).select($"vec_id".cast("int").as("nprobe"),
          lit(0L).as("candidates"), lit(0L).as("served"),
          lit(0L).as("hits"))
      else {
        val (encode, dtabs) = bindKernels(s, books)
        val cents = SimilarityQueries.semCentroids(16, PqM * PqSubDim)
        val ticked = SimilarityQueries.withTicks(vecs)
        val assigned = SimilarityQueries.assignCells(
            ticked.select($"vec_id", $"v",
              encode($"tv").getField("poss").as("poss")), cents, "v")
          .select($"vec_id", $"cell", $"poss")
        val probeCells = ticked.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), dtabs($"tv").as("dtabs"),
            posexplode(SimilarityQueries.nearestCells(
              cents, $"v", NProbeLevels.max)))
          .select($"query_id", $"dtabs",
            ($"pos" + 1).cast("int").as("cell_rank"), $"col".as("cell"))
        val cands = assigned.join(broadcast(probeCells), Seq("cell"))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"), $"cell_rank",
            graft.functions.PqFunctions.adist($"dtabs", $"poss")
              .as("adist"))
          .localCheckpoint()
        val lev = cands
          .withColumn("nprobe", explode(typedLit(NProbeLevels)))
          .filter($"cell_rank" <= $"nprobe")
        val w = Window.partitionBy($"nprobe", $"query_id")
          .orderBy($"adist".asc, $"neighbor_id".asc)
        val topk = lev
          .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 5)
          .select($"nprobe", $"query_id", $"neighbor_id")
        // exact truth: tick-space L2 brute force against the broadcast
        // 10-probe set — the recall denominator, single-consumer
        val probesT = ticked.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"tv".as("qtv"))
        val wt = Window.partitionBy($"query_id")
          .orderBy($"d".asc, $"neighbor_id".asc)
        val truth = ticked.select($"vec_id", $"tv")
          .crossJoin(broadcast(probesT))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            VectorFunctions.l2Sq($"qtv", $"tv").as("d"))
          .withColumn("rnk", row_number().over(wt)).filter($"rnk" <= 5)
          .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
        val srvhit = topk
          .join(truth, Seq("query_id", "neighbor_id"), "left")
          .groupBy($"nprobe")
          .agg(count(lit(1)).as("served"), count($"hit").as("hits"))
        lev.groupBy($"nprobe").agg(count(lit(1)).as("candidates"))
          .join(srvhit, Seq("nprobe"), "left")
          .select($"nprobe", $"candidates",
            coalesce($"served", lit(0L)).as("served"),
            coalesce($"hits", lit(0L)).as("hits"))
          .orderBy("nprobe")
      }
    }),

    // IVFADC with RESIDUAL codes — the variant §V of the paper actually
    // prescribes (q_ann_ivfpq above is the documented non-residual
    // simplification): an INTEGER k-means coarse quantizer (the
    // generalized trainer at m=1, subDim=64 — plain tick-space Lloyd,
    // so unlike the md5-corner cells the WHOLE structure is now
    // trained), then PQ codebooks trained on the residuals tv − coarse
    // centroid. Serving differs from the shared-codebook variant in
    // the one way the paper says matters: a probe's distance tables
    // are PER PROBED CELL (its residual w.r.t. that cell's centroid),
    // nprobe·M·k longs per query instead of M·k — still a broadcast
    // constant, still never a candidate-vector read. Everything stays
    // exact longs (residuals ≤ 2^22, squares ≤ 2^46, 64-term sums
    // ≤ 2^52), so the full double-trained lifecycle — coarse chain,
    // residual computation, residual chain, per-cell tables, serve —
    // is ONE hard DuckDB hash-match, the deepest oracle in the file.
    // Fan-out discipline: the residual frame feeds the residual
    // trainer's rounds AND the candidate encode — checkpointed once.
    "q_ann_ivfpq_res" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val ticked = SimilarityQueries.withTicks(vecs).select($"vec_id", $"tv")
      val coarse = trainBooksOn(ticked, 1, PqM * PqSubDim, CoarseK, PqIters)
      if (coarse.isEmpty) emptyAnnShape(vecs)
      else rankTop5(resPairs(s, vecs, Some(coarse)))
    }),

    // The recall-per-scan audit of the two IVFADC variants at the
    // deployment nprobe — the measured claim behind shipping the
    // residual index as THE SERVING DEFAULT (the r15 promotion
    // decision: the sf0.1 recall audit attributed the non-residual
    // gap to the untrained md5-corner router; this row pair shows the
    // trained-coarse residual variant is the recall/scan Pareto
    // point, so q_ann_ivfpq_res / DocStream.annSearchPqRes ship as
    // the default and the corner-router face remains the
    // oracle-anchoring twin), ORACLE-GATED instead of asserted: per
    // variant,
    // the pair volume its probed cells scanned (cost), the top-5 rows
    // served, and how many sit in exact tick-L2 truth (quality). Both
    // full double-trained lifecycles plus the brute-force truth replay
    // in ONE DuckDB hash-match — at sf0.01 the row pair reads
    // ivfpq (1229 candidates, 12/50 hits) vs ivfpq_res (1292
    // candidates, 25/50): residual codes double recall at equal scan.
    // A variant row appears iff it scored at least one pair (the
    // HAVING guard, mirrored by the filter on candidates).
    "q_ann_variant_audit" -> ((s, dir) => {
      graft.Session.install(s)
      import s.implicits._
      val vecs = SimilarityQueries.semDedupInput(s, dir)
      val books = pqCodebooks(vecs)
      if (books.isEmpty)
        vecs.limit(0).select(lit("").as("variant"),
          lit(0L).as("candidates"), lit(0L).as("served"),
          lit(0L).as("hits"))
      else {
        val ticked = SimilarityQueries.withTicks(vecs)
          .select($"vec_id", $"tv")
        // exact truth, built once for both variants (top-50 rows)
        val probesT = ticked.filter($"vec_id" < 10)
          .select($"vec_id".as("query_id"), $"tv".as("qtv"))
        val wt = Window.partitionBy($"query_id")
          .orderBy($"d".asc, $"neighbor_id".asc)
        val truth = ticked.crossJoin(broadcast(probesT))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id".as("neighbor_id"),
            VectorFunctions.l2Sq($"qtv", $"tv").as("d"))
          .withColumn("rnk", row_number().over(wt)).filter($"rnk" <= 5)
          .select($"query_id", $"neighbor_id", lit(1L).as("hit"))
          .localCheckpoint()
        def audit(variant: String, pairsIn: DataFrame): DataFrame = {
          // each pair frame feeds the count AND the ranking (fan-out)
          val pairs = pairsIn.localCheckpoint()
          val w = Window.partitionBy($"query_id")
            .orderBy($"adist".asc, $"neighbor_id".asc)
          val topk = pairs.withColumn("rnk", row_number().over(w))
            .filter($"rnk" <= 5).select($"query_id", $"neighbor_id")
          val srvhit = topk
            .join(truth, Seq("query_id", "neighbor_id"), "left")
            .agg(count(lit(1)).as("served"), count($"hit").as("hits"))
          pairs.agg(count(lit(1)).as("candidates"))
            .filter($"candidates" > 0)
            .crossJoin(srvhit)
            .select(lit(variant).as("variant"), $"candidates",
              $"served", $"hits")
        }
        audit("ivfpq", ivfpqPairs(s, vecs, books))
          .unionAll(audit("ivfpq_res", resPairs(s, vecs)))
          .orderBy("variant")
      }
    })
  )

  /** DuckDB replay of the ENTIRE integer PQ lifecycle, hand-unrolled
    * like [[SimilarityQueries.ivfCentroids]]'s tick chain: tick vectors,
    * per-subspace seeds from the first [[PqK]] vectors, [[PqIters]]
    * rounds of (exact-L2² argmin assignment keyed by (vec, sub) → exact
    * integer sums → [[snapMean]]'s truncating-division round), ending in
    * `pcodes(vec_id, sub, cell, d)` — the final assignment with its
    * per-subspace reconstruction error. All arithmetic is integral, so
    * the replay is order-free. DuckDB `//` truncates toward zero exactly
    * like the JVM's long division — the one semantic the snap formula
    * depends on. */
  private def pqTrainCtes: String =
    s"""$tickposCtes,
       |${trainChainCtes("p", "tickpos", PqSubDim, PqK)}""".stripMargin

  /** Shared tick header: guarded vectors → tick lists → position rows. */
  private def tickposCtes: String =
    s"""tl AS (
       |  SELECT vec_id, list_transform(v,
       |    x -> CAST(floor(x * ${SimilarityQueries.TickScale}.0 + 0.5)
       |              AS BIGINT)) AS tvv
       |  FROM vecs),
       |tg AS (SELECT vec_id, tvv FROM tl
       |       WHERE len(list_filter(tvv, x -> x <> 0)) > 0),
       |tickpos AS (
       |  SELECT vec_id, p.p AS pos, tvv[CAST(p.p + 1 AS INT)] AS t
       |  FROM tg, range(0, ${PqM * PqSubDim}) p(p))""".stripMargin

  /** One generated integer-Lloyd chain at ANY geometry — the SQL twin
    * of [[trainBooksOn]]: seeds from the first `k` vectors of `src`,
    * [[PqIters]] rounds of argmin-assign / exact-sum / snapped mean,
    * ending in `${prefix}codes` (the final assignment with its exact
    * per-subspace reconstruction error). `subDim` fixes the subspace
    * arithmetic (`pos // subDim` = sub id); the product chain uses
    * (p, tickpos, 4, 32), the residual variant composes a COARSE
    * chain (c, tickpos, 64, 16) with a residual-trained one
    * (r, rtickpos, 4, 32). */
  private def trainChainCtes(prefix: String, src: String, subDim: Int,
      k: Int): String = {
    def assign(name: String, cents: String): String =
      s"""${name}d AS (
         |  SELECT tp.vec_id, c.sub, c.cell,
         |    sum((tp.t - c.ct) * (tp.t - c.ct)) AS d
         |  FROM $src tp
         |  JOIN $cents c
         |    ON c.sub = tp.pos // $subDim AND c.spos = tp.pos % $subDim
         |  GROUP BY 1, 2, 3),
         |$name AS (
         |  SELECT vec_id, sub, cell, d FROM (
         |    SELECT vec_id, sub, cell, d, row_number() OVER (
         |      PARTITION BY vec_id, sub ORDER BY d, cell) AS rn
         |    FROM ${name}d) x WHERE rn = 1)""".stripMargin
    val rounds = (1 to PqIters).map { r =>
      s"""${assign(s"${prefix}assign$r", s"${prefix}cents${r - 1}")},
         |${prefix}sums$r AS (
         |  SELECT a.sub, a.cell, tp.pos % $subDim AS spos,
         |    sum(tp.t) AS s, count(*) AS c
         |  FROM ${prefix}assign$r a JOIN $src tp
         |    ON tp.vec_id = a.vec_id AND tp.pos // $subDim = a.sub
         |  GROUP BY 1, 2, 3),
         |${prefix}cents$r AS (
         |  SELECT sub, cell, spos,
         |    CAST((2 * s + CASE WHEN s < 0 THEN -c ELSE c END) // (2 * c)
         |      AS BIGINT) AS ct
         |  FROM ${prefix}sums$r)""".stripMargin
    }.mkString(",\n")
    s"""${prefix}cents0 AS (
       |  SELECT pos // $subDim AS sub, CAST(vec_id AS INT) AS cell,
       |    pos % $subDim AS spos, t AS ct
       |  FROM $src WHERE vec_id < $k),
       |$rounds,
       |${assign(s"${prefix}codes", s"${prefix}cents$PqIters")}"""
      .stripMargin
  }

  /** The ADC distance replay: probe ticks against each candidate's code
    * centroids, one exact integer sum per (probe, candidate). `fromSrc`
    * supplies the candidate set (the exhaustive scan joins every coded
    * vector; IVF-PQ routes through the probed coarse cells first). */
  private def adcServeSql(candJoin: String): String =
    s"""qd AS (
       |  SELECT qp.vec_id AS query_id, cd.vec_id AS neighbor_id,
       |    CAST(sum((qp.t - c.ct) * (qp.t - c.ct)) AS BIGINT) AS adist
       |  FROM tickpos qp
       |  $candJoin
       |  JOIN pcents$PqIters c ON c.sub = cd.sub AND c.cell = cd.cell
       |    AND c.sub = qp.pos // $PqSubDim AND c.spos = qp.pos % $PqSubDim
       |  WHERE qp.vec_id < 10 AND cd.vec_id <> qp.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS INT) AS rank
       |  FROM qd)
       |SELECT query_id, rank, neighbor_id, adist FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the SQL front door's kernel twin carries the DataFrame twin's
    // oracle VERBATIM (the SqlQueries discipline): one oracle, two
    // surfaces, and the correctness gate itself proves they agree
    ("q_sql_ann_pq" -> oracleSqlBase("q_ann_pq"))

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "q_emb_pq_codes" ->
      s"""WITH ${SimilarityQueries.guardedVecsCte},
         |$pqTrainCtes
         |SELECT vec_id,
         |${(0 until PqM).map(m =>
             s"  CAST(max(CASE WHEN sub = $m THEN cell END) AS INT) AS code_$m,")
             .mkString("\n")}
         |  CAST(sum(d) AS BIGINT) AS recon_err
         |FROM pcodes GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_ann_pq" ->
      s"""WITH ${SimilarityQueries.guardedVecsCte},
         |$pqTrainCtes,
         |${adcServeSql("JOIN pcodes cd ON true")}""".stripMargin,

    // the corner coarse quantizer's `scores`/`cells` CTEs (the IVF
    // family's replay), probe cells under the same (score desc, cell)
    // order as nearestCells, then the shared ADC serve restricted to
    // candidates inside the probed cells
    "q_ann_ivfpq" ->
      s"""WITH ${SimilarityQueries.cornerQuantizerCtes},
         |$pqTrainCtes,
         |probecells AS (
         |  SELECT vec_id AS query_id, CAST(c AS INT) AS cell FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, c) AS rn
         |    FROM scores
         |    WHERE vec_id < 10
         |      AND vec_id IN (SELECT vec_id FROM tg)) t
         |  WHERE rn <= $PqNProbe),
         |${adcServeSql(
           """JOIN probecells pc ON pc.query_id = qp.vec_id
             |  JOIN cells cc ON cc.cell = pc.cell
             |  JOIN pcodes cd ON cd.vec_id = cc.vec_id""".stripMargin)}"""
        .stripMargin,

    // the nprobe sweep: ranked probe cells (cell_rank from the same
    // (score desc, cell) window nearestCells realizes), one ADC pass
    // over the widest rung's candidates carrying each candidate's
    // cell_rank, per-rung membership by cell_rank <= nprobe, exact
    // tick-L2 truth from a tickpos self-join — every number a long
    "q_ann_nprobe_tune" ->
      s"""WITH ${SimilarityQueries.cornerQuantizerCtes},
         |$pqTrainCtes,
         |levels AS (SELECT unnest([${NProbeLevels.mkString(", ")}])
         |           AS nprobe),
         |probecells AS (
         |  SELECT vec_id AS query_id, CAST(c AS INT) AS cell,
         |    CAST(rn AS INT) AS cell_rank FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, c) AS rn
         |    FROM scores
         |    WHERE vec_id < 10
         |      AND vec_id IN (SELECT vec_id FROM tg)) t
         |  WHERE rn <= ${NProbeLevels.max}),
         |qd AS (
         |  SELECT pc.query_id, cd.vec_id AS neighbor_id, pc.cell_rank,
         |    CAST(sum((qp.t - c.ct) * (qp.t - c.ct)) AS BIGINT) AS adist
         |  FROM tickpos qp
         |  JOIN probecells pc ON pc.query_id = qp.vec_id
         |  JOIN cells cc ON cc.cell = pc.cell
         |  JOIN pcodes cd ON cd.vec_id = cc.vec_id
         |  JOIN pcents$PqIters c ON c.sub = cd.sub AND c.cell = cd.cell
         |    AND c.sub = qp.pos // $PqSubDim AND c.spos = qp.pos % $PqSubDim
         |  WHERE cd.vec_id <> qp.vec_id
         |  GROUP BY 1, 2, 3),
         |lev AS (
         |  SELECT l.nprobe, q.query_id, q.neighbor_id, q.adist
         |  FROM qd q JOIN levels l ON q.cell_rank <= l.nprobe),
         |topk AS (
         |  SELECT nprobe, query_id, neighbor_id FROM (
         |    SELECT nprobe, query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY nprobe, query_id
         |      ORDER BY adist, neighbor_id) AS rnk
         |    FROM lev) x WHERE rnk <= 5),
         |truthd AS (
         |  SELECT qp.vec_id AS query_id, cp.vec_id AS neighbor_id,
         |    sum((qp.t - cp.t) * (qp.t - cp.t)) AS d
         |  FROM tickpos qp
         |  JOIN tickpos cp ON cp.pos = qp.pos AND cp.vec_id <> qp.vec_id
         |  WHERE qp.vec_id < 10
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d, neighbor_id) AS rnk
         |    FROM truthd) x WHERE rnk <= 5),
         |srvhit AS (
         |  SELECT t.nprobe, CAST(count(*) AS BIGINT) AS served,
         |    CAST(count(u.query_id) AS BIGINT) AS hits
         |  FROM topk t LEFT JOIN truth u
         |    ON u.query_id = t.query_id AND u.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT a.nprobe, a.candidates,
         |  COALESCE(s.served, CAST(0 AS BIGINT)) AS served,
         |  COALESCE(s.hits, CAST(0 AS BIGINT)) AS hits
         |FROM (SELECT nprobe, CAST(count(*) AS BIGINT) AS candidates
         |      FROM lev GROUP BY 1) a
         |LEFT JOIN srvhit s ON s.nprobe = a.nprobe
         |ORDER BY a.nprobe""".stripMargin,

    // the double-trained lifecycle: the coarse integer-Lloyd chain
    // (c, full-width sub), residual positions rtickpos = tick minus
    // the FINAL coarse centroid of the vector's cell, the residual
    // chain (r) trained on them, coarse cell ranking per probe by
    // exact L2, per-(probe, probed-cell) residual serve
    "q_ann_ivfpq_res" ->
      s"""WITH ${SimilarityQueries.guardedVecsCte},
         |$tickposCtes,
         |${trainChainCtes("c", "tickpos", PqM * PqSubDim, CoarseK)},
         |rtickpos AS (
         |  SELECT t.vec_id, t.pos, t.t - c.ct AS t
         |  FROM tickpos t
         |  JOIN ccodes a ON a.vec_id = t.vec_id
         |  JOIN ccents$PqIters c ON c.cell = a.cell AND c.spos = t.pos),
         |${trainChainCtes("r", "rtickpos", PqSubDim, PqK)},
         |cpd AS (
         |  SELECT tp.vec_id AS query_id, c.cell,
         |    sum((tp.t - c.ct) * (tp.t - c.ct)) AS d
         |  FROM tickpos tp JOIN ccents$PqIters c ON c.spos = tp.pos
         |  WHERE tp.vec_id < 10
         |  GROUP BY 1, 2),
         |probecells AS (
         |  SELECT query_id, CAST(cell AS INT) AS cell FROM (
         |    SELECT query_id, cell, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d, cell) AS rn
         |    FROM cpd) x WHERE rn <= $PqNProbe),
         |qrt AS (
         |  SELECT t.vec_id AS query_id, pc.cell, t.pos, t.t - c.ct AS rt
         |  FROM tickpos t
         |  JOIN probecells pc ON pc.query_id = t.vec_id
         |  JOIN ccents$PqIters c ON c.cell = pc.cell AND c.spos = t.pos),
         |qd AS (
         |  SELECT qr.query_id, cd.vec_id AS neighbor_id,
         |    CAST(sum((qr.rt - rc.ct) * (qr.rt - rc.ct)) AS BIGINT)
         |      AS adist
         |  FROM qrt qr
         |  JOIN ccodes ca ON ca.cell = qr.cell
         |  JOIN rcodes cd ON cd.vec_id = ca.vec_id
         |    AND cd.sub = qr.pos // $PqSubDim
         |  JOIN rcents$PqIters rc ON rc.sub = cd.sub AND rc.cell = cd.cell
         |    AND rc.spos = qr.pos % $PqSubDim
         |  WHERE cd.vec_id <> qr.query_id
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist, neighbor_id) AS INT) AS rank
         |  FROM qd)
         |SELECT query_id, rank, neighbor_id, adist FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // both variants' full lifecycles side by side: the corner-cell +
    // p-chain pair frame (sqd), the coarse/residual double-train pair
    // frame (rqd), exact tick-L2 truth, and one audit row per variant
    // (HAVING count(*) > 0 mirrors the Spark candidates filter)
    "q_ann_variant_audit" ->
      s"""WITH ${SimilarityQueries.cornerQuantizerCtes},
         |$pqTrainCtes,
         |probecells AS (
         |  SELECT vec_id AS query_id, CAST(c AS INT) AS cell FROM (
         |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY s DESC, c) AS rn
         |    FROM scores
         |    WHERE vec_id < 10
         |      AND vec_id IN (SELECT vec_id FROM tg)) t
         |  WHERE rn <= $PqNProbe),
         |sqd AS (
         |  SELECT qp.vec_id AS query_id, cd.vec_id AS neighbor_id,
         |    CAST(sum((qp.t - c.ct) * (qp.t - c.ct)) AS BIGINT) AS adist
         |  FROM tickpos qp
         |  JOIN probecells pc ON pc.query_id = qp.vec_id
         |  JOIN cells cc ON cc.cell = pc.cell
         |  JOIN pcodes cd ON cd.vec_id = cc.vec_id
         |  JOIN pcents$PqIters c ON c.sub = cd.sub AND c.cell = cd.cell
         |    AND c.sub = qp.pos // $PqSubDim AND c.spos = qp.pos % $PqSubDim
         |  WHERE cd.vec_id <> qp.vec_id
         |  GROUP BY 1, 2),
         |${trainChainCtes("c", "tickpos", PqM * PqSubDim, CoarseK)},
         |rtickpos AS (
         |  SELECT t.vec_id, t.pos, t.t - c.ct AS t
         |  FROM tickpos t
         |  JOIN ccodes a ON a.vec_id = t.vec_id
         |  JOIN ccents$PqIters c ON c.cell = a.cell AND c.spos = t.pos),
         |${trainChainCtes("r", "rtickpos", PqSubDim, PqK)},
         |cpd AS (
         |  SELECT tp.vec_id AS query_id, c.cell,
         |    sum((tp.t - c.ct) * (tp.t - c.ct)) AS d
         |  FROM tickpos tp JOIN ccents$PqIters c ON c.spos = tp.pos
         |  WHERE tp.vec_id < 10
         |  GROUP BY 1, 2),
         |rprobecells AS (
         |  SELECT query_id, CAST(cell AS INT) AS cell FROM (
         |    SELECT query_id, cell, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d, cell) AS rn
         |    FROM cpd) x WHERE rn <= $PqNProbe),
         |qrt AS (
         |  SELECT t.vec_id AS query_id, pc.cell, t.pos, t.t - c.ct AS rt
         |  FROM tickpos t
         |  JOIN rprobecells pc ON pc.query_id = t.vec_id
         |  JOIN ccents$PqIters c ON c.cell = pc.cell AND c.spos = t.pos),
         |rqd AS (
         |  SELECT qr.query_id, cd.vec_id AS neighbor_id,
         |    CAST(sum((qr.rt - rc.ct) * (qr.rt - rc.ct)) AS BIGINT)
         |      AS adist
         |  FROM qrt qr
         |  JOIN ccodes ca ON ca.cell = qr.cell
         |  JOIN rcodes cd ON cd.vec_id = ca.vec_id
         |    AND cd.sub = qr.pos // $PqSubDim
         |  JOIN rcents$PqIters rc ON rc.sub = cd.sub AND rc.cell = cd.cell
         |    AND rc.spos = qr.pos % $PqSubDim
         |  WHERE cd.vec_id <> qr.query_id
         |  GROUP BY 1, 2),
         |stopk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         |    FROM sqd) x WHERE rnk <= 5),
         |rtopk AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adist, neighbor_id) AS rnk
         |    FROM rqd) x WHERE rnk <= 5),
         |truthd AS (
         |  SELECT qp.vec_id AS query_id, cp.vec_id AS neighbor_id,
         |    sum((qp.t - cp.t) * (qp.t - cp.t)) AS d
         |  FROM tickpos qp
         |  JOIN tickpos cp ON cp.pos = qp.pos AND cp.vec_id <> qp.vec_id
         |  WHERE qp.vec_id < 10
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY d, neighbor_id) AS rnk
         |    FROM truthd) x WHERE rnk <= 5)
         |SELECT * FROM (
         |  SELECT 'ivfpq' AS variant,
         |    CAST(count(*) AS BIGINT) AS candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM stopk) AS served,
         |    (SELECT CAST(count(*) AS BIGINT) FROM stopk t
         |     JOIN truth u ON u.query_id = t.query_id
         |       AND u.neighbor_id = t.neighbor_id) AS hits
         |  FROM sqd HAVING count(*) > 0
         |  UNION ALL
         |  SELECT 'ivfpq_res' AS variant,
         |    CAST(count(*) AS BIGINT) AS candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM rtopk) AS served,
         |    (SELECT CAST(count(*) AS BIGINT) FROM rtopk t
         |     JOIN truth u ON u.query_id = t.query_id
         |       AND u.neighbor_id = t.neighbor_id) AS hits
         |  FROM rqd HAVING count(*) > 0) z
         |ORDER BY variant""".stripMargin
  )
}
