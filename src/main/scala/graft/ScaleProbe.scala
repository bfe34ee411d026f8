package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ohlc.Ohlc

/** Measured scaling probe: replicate the sf0.1 events table K× (shifted
  * ids/users so cardinalities scale too), run representative operators at
  * 1× and K×, and print the time ratio next to the data ratio. A
  * shuffle-sound operator should scale ~linearly (ratio ≈ K on fixed
  * cores); superlinear growth exposes a plan that would not survive 100×.
  *
  * Usage: runMain graft.ScaleProbe [K] [section...] (default 10, all
  * sections); sections: relational text rounds incremental chain h2h.
  * Writes replicas under /tmp/graft_scaleprobe.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val sections = args.drop(1).toSet
    def sec(name: String): Boolean = sections.isEmpty || sections(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = "/tmp/graft_scaleprobe"
    val src = graft.catalog.Tables.events(spark, "/root/testdata/sf0.1")
    val n1 = src.count()
    // K replicas with disjoint event ids and user ids (users scale with
    // data, as they would in reality; per-user history length stays fixed)
    val reps = spark.range(k).select(col("id").as("rep"))
    src.crossJoin(reps)
      .withColumn("event_id", col("event_id") + col("rep") * lit(10000000L))
      .withColumn("user_id", col("user_id") + col("rep") * lit(1000000L))
      .drop("rep")
      .write.mode("overwrite").parquet(s"$base/events_x$k")
    val big = spark.read.parquet(s"$base/events_x$k")
    println(s"rows: 1x=$n1, ${k}x=${big.count()}")

    def ohlc(df: DataFrame) = Ohlc
      .bars(df, Seq("event_type"), "ts", "value", "event_id", 1).count()
    def sess(df: DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      df.select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_s", when(col("prev").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev"))) > 1800000000L, 1L)
          .otherwise(0L))
        .groupBy("user_id").agg(sum("new_s")).count()
    }
    def topk(df: DataFrame) = graft.operators.TopKPerGroup
      .topK(df.select("event_type", "event_id", "value"),
        Seq("event_type"), "value", "event_id", 5).count()
    def asof(df: DataFrame) = {
      val p = df.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      val c = df.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsofJoin.leftAsofNative(p, c, Seq("user_id"),
        "ts", "ts", Seq("value"), "_c").count()
    }
    def dedupA(df: DataFrame) = graft.operators.Dedup
      .replacingDedupAgg(df, Seq("user_id", "event_type"),
        Seq("ts", "event_id")).count()

    val ops: Seq[(String, DataFrame => Any)] = Seq(
      "ohlc_1m" -> ohlc, "sessionize" -> sess, "group_topk" -> topk,
      "asof_join" -> asof, "dedup_agg" -> dedupA)

    // text-family probe on SYNTHETIC random-vocab docs (150 words from a
    // 50k vocab, seeded by doc_id): replicating or permuting the real
    // word-salad corpus makes docs share shingles pathologically, so the
    // LSH pair count — the OUTPUT — explodes, measuring the data's
    // duplication rather than the operator. A near-dup-free corpus
    // isolates operator cost.
    val textK = math.min(k, 20)
    def synthDocs(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        expr("""array_join(transform(sequence(1, 150),
                  i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")
          .as("text"))
    val docsSrc = synthDocs(5000)
    synthDocs(5000L * textK).write.mode("overwrite").parquet(s"$base/docs_x$textK")
    val docsBigR = spark.read.parquet(s"$base/docs_x$textK")
    println(s"docs: 1x=${docsSrc.count()}, ${textK}x=${docsBigR.count()}")

    def minhash(df: DataFrame) = graft.text.MinHash
      .nearDupPairs(df, "doc_id", "text").count()
    def simhash(df: DataFrame) = df
      .select(graft.text.MinHash.simhashPoly(col("text"), 30).as("h"))
      .agg(max("h")).count()
    def bpe(df: DataFrame) = df
      .select(size(expr(
        "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]+', 0)"))
        .as("n")).agg(sum("n")).count()

    def groups(df: DataFrame) = graft.text.MinHash
      .nearDupGroups(df, "doc_id", "text").count()
    def tfidf(df: DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      val toks = df.select(col("doc_id"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nd = df.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("score_e6").desc, col("token"))
      tf.join(dfreq, "token").crossJoin(broadcast(nd))
        .withColumn("score_e6",
          (col("tf") * floor(log2(col("n_docs").cast("double") / col("df")) * 1e6))
            .cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5).count()
    }
    // the REAL decontamination operator (LSH banding + verify + anti-join,
    // including the r9 broadcast size gate): every 100th doc plays the
    // benchmark, the rest the corpus — operator cost, not contamination
    // volume, is what scales (the synthetic corpus is near-dup-free)
    def contam(df: DataFrame) = {
      val bench = df.filter(col("doc_id") % 100 === 0)
      val corp = df.filter(col("doc_id") % 100 =!= 0)
      graft.text.MinHash.decontaminate(corp, bench, "doc_id", "text").count()
    }

    def substr(df: DataFrame) = graft.text.MinHash
      .substringDupGroups(df, "doc_id", "text").count()
    // synthetic unit-free embeddings derived from doc_id (deterministic)
    def withVecs(df: DataFrame) = df.select(col("doc_id"),
      expr("""transform(sequence(1, 8),
                i -> CAST(pmod(xxhash64(doc_id, i), 2000) / 1000.0 - 1.0 AS FLOAT))""")
        .as("embedding"))
    def multis(df: DataFrame) = graft.operators.MultiSignalDedup
      .groups(df, "doc_id", "text", withVecs(df), "doc_id", "embedding").count()

    val textOps: Seq[(String, DataFrame => Any)] = Seq(
      "minhash_lsh" -> minhash, "simhash" -> simhash, "bpe_tokens" -> bpe,
      "dedup_groups" -> groups, "tfidf" -> tfidf, "contamination" -> contam,
      "substr_dedup" -> substr, "multisignal" -> multis)

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    if (sec("relational")) {
      println(f"${"op"}%-12s ${"t_1x"}%8s ${"t_" + k + "x"}%8s ratio (data ${k}x)")
      ops.foreach { case (name, f) =>
        f(src); f(src) // warm
        val t1 = time(f(src))
        f(big)         // warm the big path once
        val tk = time(f(big))
        println(f"$name%-12s $t1%8.2f $tk%8.2f ${tk / t1}%5.1f")
      }
    }
    if (sec("text")) {
      println(f"${"op"}%-12s ${"t_1x"}%8s ${"t_" + textK + "x"}%8s ratio (docs ${textK}x)")
      textOps.foreach { case (name, f) =>
        f(docsSrc); f(docsSrc)
        val t1 = time(f(docsSrc))
        f(docsBigR)
        val tk = time(f(docsBigR))
        println(f"$name%-12s $t1%8.2f $tk%8.2f ${tk / t1}%5.1f")
      }
    }

    // Round-9 operators: duplicate-span removal (linear in tokens — the
    // near-dup-free corpus isolates scan/shuffle cost from removal volume)
    // and SemDeDup, whose cost is assignment n·k + within-cell pairs n²/k:
    // the balanced choice is k ∝ √n, giving the paper's O(n^1.5) total —
    // the probe scales k that way and the honest expectation at 20× docs
    // is ~20^1.5/20 ≈ 4.5× the per-doc cost before parallel absorption.
    if (sec("r9ops")) {
      def spanrm(df: DataFrame) = graft.text.CorpusOps
        .removeDupSpans(df, "doc_id", "text")
        .agg(sum("n_removed")).head() // head, not count: force the aggregate
      def semded(df: DataFrame, kCells: Int) = graft.vector.VectorFunctions
        .semDedup(withVecs(df), "doc_id", "embedding",
          k = kCells, trainIters = 2, tau = 0.9)
        .filter(col("kept")).count()
      println(f"${"op"}%-12s ${"t_1x"}%8s ${"t_" + textK + "x"}%8s ratio (docs ${textK}x)")
      Seq[(String, (DataFrame, Int) => Any)](
        "span_removal" -> ((df, _) => spanrm(df)),
        "semdedup" -> ((df, kc) => semded(df, kc))).foreach { case (name, f) =>
        val k1 = 32 // ≈ √(5000·0.2)
        val kk = math.max(k1, (k1 * math.sqrt(textK.toDouble)).toInt)
        f(docsSrc, k1); f(docsSrc, k1)
        val t1 = time(f(docsSrc, k1))
        f(docsBigR, kk)
        val tk = time(f(docsBigR, kk))
        println(f"$name%-12s $t1%8.2f $tk%8.2f ${tk / t1}%5.1f")
      }
    }

    // Round-10 probes.
    // (a) SemDeDup one decade further: k ∝ √n at 1×/20×/100× docs — the
    //     paper's O(n^1.5) curve measured across two decades, and the
    //     linear semanticDupGroups beside it to locate the crossover
    //     where the LSH path becomes the recommended one.
    // (b) Hot-cell guard: an ALL-near-dup corpus collapses k-means into
    //     one cell — unguarded, the within-cell pair join is n² (walls
    //     measured at small n to stay runnable); guarded (maxCellSize),
    //     pair work is n·cap/2, so doubling docs should ~double wall.
    if (sec("r10ops")) {
      def semdedupK(df: DataFrame, kCells: Int) = graft.vector.VectorFunctions
        .semDedup(withVecs(df), "doc_id", "embedding",
          k = kCells, trainIters = 2, tau = 0.9)
        .filter(col("kept")).count()
      def semgroups(df: DataFrame) = graft.vector.VectorFunctions
        .semanticDupGroups(withVecs(df), "doc_id", "embedding").count()
      semdedupK(docsSrc, 32); semgroups(docsSrc) // JIT/codegen warm-up
      println(f"${"op"}%-14s ${"docs"}%8s ${"k"}%6s ${"wall_s"}%8s")
      Seq(1, 20, 100).foreach { mult =>
        val docs = synthDocs(5000L * mult)
        docs.write.mode("overwrite").parquet(s"$base/docs_r10_x$mult")
        val df = spark.read.parquet(s"$base/docs_r10_x$mult")
        val kCells = math.max(32, (32 * math.sqrt(mult.toDouble)).toInt)
        semgroups(df) // warm the parquet/plan path once per size
        val tg = time(semgroups(df))
        val ts = time(semdedupK(df, kCells))
        println(f"semdedup_sqrtk ${5000L * mult}%8d $kCells%6d $ts%8.2f")
        println(f"semgroups_lsh  ${5000L * mult}%8d ${"-"}%6s $tg%8.2f")
      }
      // adversarial corpus: every embedding identical
      def identVecs(n: Long): DataFrame = spark.range(n)
        .select(col("id").as("doc_id"),
          expr("transform(sequence(1, 8), i -> CAST(1.0 AS FLOAT))").as("embedding"))
      def hot(df: DataFrame, cap: Int) = graft.vector.VectorFunctions
        .semDedup(df, "doc_id", "embedding",
          k = 4, trainIters = 1, tau = 0.9, maxCellSize = cap)
        .filter(col("kept")).count()
      println(f"${"hotcell"}%-14s ${"docs"}%8s ${"cap"}%8s wall_s")
      Seq(5000L, 10000L).foreach { n =>
        val t = time(hot(identVecs(n), Int.MaxValue))
        println(f"unguarded      $n%8d ${"inf"}%8s $t%8.2f")
      }
      Seq(50000L, 100000L).foreach { n =>
        val t = time(hot(identVecs(n), 200))
        println(f"guarded        $n%8d ${200}%8d $t%8.2f")
      }
    }

    // Round-11 probes.
    // (a) span-removal EXACT verify cost: r11 replaced the second-hash
    //     collision check with a literal text compare on the cut path.
    //     The verify joins are keyed by the candidate rows, so their cost
    //     must track CANDIDATE volume, not corpus size: at fixed corpus
    //     size, sweep the share of docs carrying a common duplicated
    //     60-token chunk (candidates ∝ dup share; 0% isolates the
    //     verify-free baseline).
    // (b) leftAsofBucketed under 100× single-key skew: ONE instrument's
    //     entire history. The plain window form serializes that key into
    //     a single partition (wall ∝ n, zero parallel absorption); the
    //     bucketed form splits the key across (key, time-bucket)
    //     partitions and should absorb the growth near-linearly in
    //     cores until bucket count saturates them.
    if (sec("r11ops")) {
      def spanDocs(n: Long, pct: Int): DataFrame = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) < lit(pct),
          concat(
            expr("array_join(transform(sequence(1, 60), i -> concat('d', i)), ' ')"),
            lit(" "),
            expr("""array_join(transform(sequence(1, 90),
                      i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")))
          .otherwise(expr(
            """array_join(transform(sequence(1, 150),
                 i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')"""))
          .as("text"))
      def spanrm(df: DataFrame) = graft.text.CorpusOps
        .removeDupSpans(df, "doc_id", "text")
        .agg(sum("n_removed")).head()
      spanrm(spanDocs(2000, 30)) // JIT/codegen warm-up
      println(f"${"span_verify"}%-14s ${"docs"}%8s ${"dup%"}%6s ${"cand≈"}%9s wall_s")
      Seq(0, 30, 60).foreach { pct =>
        val n = 20000L
        val cand = if (pct == 0) 0L else 11L * (n * pct / 100 - 1)
        val t = time(spanrm(spanDocs(n, pct)))
        println(f"span_verify    $n%8d $pct%6d $cand%9d $t%8.2f")
      }
      // ---- single-key as-of skew ----
      def skewSides(n: Long): (DataFrame, DataFrame) = {
        val l = spark.range(n).select(
          lit("EURUSD").as("instrument"),
          expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"))
        val r = spark.range(n).select(
          lit("EURUSD").as("instrument"),
          expr("timestamp_micros(1700000000000000 + id * 1000000 + 500000)")
            .as("ts2"),
          (col("id") % 1000).cast("double").as("px"))
        (l, r)
      }
      // aggregate over the FILLED payload (count() alone would let column
      // pruning delete the unused window/merge work — the thing measured)
      def plainAsof(n: Long): Any = {
        val (l, r) = skewSides(n)
        graft.operators.AsofJoin
          .leftAsof(l, r, Seq("instrument"), "ts", "ts2", Seq("px"), "_r")
          .agg(sum(col("px_r"))).head()
      }
      def bucketedAsof(n: Long): Any = {
        val (l, r) = skewSides(n)
        graft.operators.AsofJoin
          .leftAsofBucketed(l, r, Seq("instrument"), "ts", "ts2", Seq("px"),
            "_r", bucketSeconds = 3600L)
          .agg(sum(col("px_r"))).head()
      }
      plainAsof(20000L); bucketedAsof(20000L) // warm
      println(f"${"asof_skew"}%-14s ${"rows/side"}%10s ${"wall_s"}%8s")
      // plain: one key = ONE window partition, the serializing form the
      // bucketed variant exists to avoid — measured at the same sizes
      Seq(100000L, 1000000L, 10000000L).foreach { n =>
        val t = time(plainAsof(n))
        println(f"asof_plain     $n%10d $t%8.2f")
      }
      Seq(100000L, 1000000L, 10000000L).foreach { n =>
        val t = time(bucketedAsof(n))
        println(f"asof_bucketed  $n%10d $t%8.2f")
      }
    }

    // q_triangles stage split: how much of the wall is CONSTRUCTING the
    // co-purchase edge list (per-order set + in-row pair explode +
    // distinct) vs the triangle machinery proper (orient + adjacency +
    // intersection). Decides whether the edge build is worth optimizing.
    if (sec("tri")) {
      val li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      def edgesOf(minParts: Boolean): DataFrame = {
        val ps = li.groupBy("l_orderkey")
          .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
        val kept = if (minParts) ps.filter(size(col("ps")) >= 2) else ps
        kept.select(explode(expr(
          """flatten(transform(ps, (x, i) ->
               transform(slice(ps, i + 2, size(ps)), y ->
                 named_struct('u', x, 'v', y))))""")).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
      }
      def full(minParts: Boolean) = graft.operators.Triangles
        .perNodeCounts(edgesOf(minParts), "u", "v")
        .orderBy(col("n_tri").desc, col("node")).limit(100).count()
      full(false); full(false) // warm
      val tEdges = time(edgesOf(false).distinct().count())
      val tEdgesF = time(edgesOf(true).distinct().count())
      val tFull = time(full(false))
      val tFullF = time(full(true))
      println(f"tri_edges      ${tEdges}%8.2f  (with size>=2 filter ${tEdgesF}%5.2f)")
      println(f"tri_full       ${tFull}%8.2f  (with size>=2 filter ${tFullF}%5.2f)")
    }

    // dedup-groups round-count probe: each fixpoint round is one
    // synchronous Spark job, so at 100 TB the ROUND count (not per-round
    // cost, which is linear and amortizes) is the scale lever. Measure it
    // on (a) near-dup-free corpora at 1x/20x/100x — rounds should stay
    // FLAT as docs grow, because round count tracks component diameter,
    // not corpus size — and (b) a single 20k-doc near-dup CHAIN (doc i
    // shares 145/150 words with doc i+1 ⇒ one giant component of diameter
    // ~20k), the diameter-adversarial shape where pointer jumping must
    // deliver logarithmic rounds.
    if (sec("rounds")) {
    println(f"${"dedup_groups"}%-18s ${"docs"}%8s ${"wall_s"}%8s rounds")
    Seq(1 -> docsSrc, textK -> docsBigR, 100 -> synthDocs(500000L)).foreach {
      case (mult, df) =>
        val t0 = System.nanoTime()
        val (g, rounds) = graft.text.MinHash
          .nearDupGroupsWithRounds(df, "doc_id", "text")
        g.count()
        val t = (System.nanoTime() - t0) / 1e9
        val tag = s"random_${mult}x"
        println(f"$tag%-18s ${df.count()}%8d $t%8.2f $rounds%6d")
    }
    }
    // Incremental labeling cost vs corpus size at a FIXED 1000-doc batch:
    // the O(batch) claim — the corpus is clustered and its index
    // materialized OUTSIDE the timed step; only the batch labeling is
    // timed. Flat t_inc across 100× corpus growth = the fixpoint really
    // touches only the batch's bucket slice.
    if (sec("incremental")) {
    println(f"${"incremental"}%-18s ${"corpus"}%8s t_inc_s")
    Seq(5000L, 100000L, 500000L).foreach { n =>
      val corpus = synthDocs(n)
      val edges = graft.text.MinHash.bandEdges(corpus, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (lab, _) = graft.operators.ConnectedComponents
        .labelPropagateWithRounds(edges, "id", Seq("band", "bh"))
      val index = edges.join(lab, Seq("id"))
        .select(col("group_rep"), col("band"), col("bh")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      index.count()
      val batch = spark.range(10000000L, 10001000L).select(
        col("id").as("doc_id"),
        expr("""array_join(transform(sequence(1, 150),
                  i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")
          .as("text"))
      val tInc = time {
        graft.text.MinHash
          .nearDupGroupsIncremental(index, batch, "doc_id", "text")._1.count()
      }
      println(f"batch_1k_vs_$n%-12d $n%8d $tInc%8.2f")
      edges.unpersist(blocking = false); index.unpersist(blocking = false)
    }
    }
    if (sec("chain")) {
    val chain = spark.range(20000).select(col("id").as("doc_id"),
      expr("""array_join(transform(sequence(1, 150),
                i -> concat('w', id * 5 + i)), ' ')""").as("text"))
    val t0 = System.nanoTime()
    val (cg, cRounds) = graft.text.MinHash
      .nearDupGroupsWithRounds(chain, "doc_id", "text", maxIters = 40)
    val nGroups = cg.select("group_rep").distinct().count()
    val t = (System.nanoTime() - t0) / 1e9
    println(f"chain_20k (${nGroups} comps)  $t%8.2f $cRounds%6d")
    // Same chain with PERMUTED doc ids — label values no longer chain, so
    // min-label propagation floods (Θ(diameter) rounds; it would blow the
    // 40-round cap here) while star contraction rewires the topology
    // itself: O(log² n) rounds for ANY id placement.
    val permChain = chain.select(
      (pmod(col("doc_id") * 48271L, lit(20011L))).as("doc_id"), col("text"))
    val t1 = System.nanoTime()
    val (sg, sRounds) = graft.text.MinHash
      .nearDupGroupsStar(permChain, "doc_id", "text")
    val sGroups = sg.select("group_rep").distinct().count()
    val ts = (System.nanoTime() - t1) / 1e9
    println(f"chain_20k_rand_ids star (${sGroups} comps)  $ts%8.2f $sRounds%6d")
    }
    // Propagation vs star contraction HEAD-TO-HEAD (each round of either
    // is one synchronous Spark job — round count × driver barrier is the
    // 100 TB lever). Three topologies:
    //  - family_500k: the realistic regime at 100× — 25k near-dup
    //    families of 20 (star/clique shaped, diameter <= 2). Both should
    //    converge in a handful of rounds; star's higher per-round cost
    //    (edge rewriting + dedup agg vs label joins) is measured here.
    //  - chain_600_rand_ids: the adversarial regime, sized so propagation
    //    can actually CONVERGE inside the probe — ids uncorrelated with
    //    topology make the pointer jump useless, so propagation floods
    //    ~1 hop/round (Θ(diameter) rounds) while star contraction rewires
    //    the same chain in O(log² n) rounds.
    //  - random_100x: dup-free 500k — both converge immediately; measures
    //    fixed per-round overhead at 100× scale.
    def familyDocs(n: Long, fam: Int = 20): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        expr(s"""array_join(concat(
                   transform(sequence(1, 145),
                     i -> concat('f', pmod(xxhash64(id div $fam, i), 50000))),
                   transform(sequence(1, 5), i -> concat('u', id, '_', i))),
                 ' ')""").as("text"))
    def headToHead(tag: String, df: DataFrame, propIters: Int): Unit = {
      val tp0 = System.nanoTime()
      val (pComps, pRounds) =
        try {
          val (g, r) = graft.text.MinHash
            .nearDupGroupsWithRounds(df, "doc_id", "text", maxIters = propIters)
          (g.select("group_rep").distinct().count(), r)
        } catch { case _: IllegalStateException => (-1L, -1) } // hit cap
      val tp = (System.nanoTime() - tp0) / 1e9
      val ts0 = System.nanoTime()
      val (sGr, sR) = graft.text.MinHash
        .nearDupGroupsStar(df, "doc_id", "text", maxIters = 60)
      val sComps = sGr.select("group_rep").distinct().count()
      val tsw = (System.nanoTime() - ts0) / 1e9
      println(f"$tag%-20s prop $tp%7.2fs /$pRounds%5d r ($pComps comps)   " +
        f"star $tsw%7.2fs /$sR%4d r ($sComps comps)")
    }
    // chain position = id (doc id-th and (id+1)-th share 145/150 words);
    // doc_id is a PERMUTATION of positions so label values cannot chain
    val chain600 = spark.range(600).select(
      pmod(col("id") * 48271L, lit(601L)).as("doc_id"),
      expr("""array_join(transform(sequence(1, 150),
                i -> concat('w', id * 5 + i)), ' ')""").as("text"))
    if (sec("h2h")) {
      println(f"${"head-to-head"}%-20s propagation vs star (rounds = driver barriers)")
      headToHead("family_500k", familyDocs(500000L), propIters = 25)
      headToHead("random_100x", synthDocs(500000L), propIters = 25)
      headToHead("chain_600_rand_ids", chain600, propIters = 800)
    }
    // PQ ANN at 100×: train (fixed 2 Lloyd rounds over the subvector
    // table), then the full retrieve (train + encode + codes-only ADC +
    // re-rank) vs exact brute force for the same 20 queries. The claim
    // under test: ADC's scan stage is linear in codes (m small ints/doc),
    // so retrieve wall should track data ~linearly while brute force pays
    // the full float-vector scan — the bandwidth argument made concrete.
    if (sec("ann")) {
      def synthVecs(n: Long): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63), j ->
            CAST((((id * 131071 + j * 7919 + 12345) % 1000000007)
                  * 2654435761 % 1000000007)
                 * 2.0 / 1000000007.0 - 1.0 AS FLOAT))""").as("embedding"))
      println(f"${"pq_ann"}%-14s ${"vecs"}%8s ${"build_s"}%8s ${"scan_s"}%8s ${"brute_s"}%8s")
      Seq(1 -> 5000L, 100 -> 500000L).foreach { case (mult, n) =>
        val vecs = synthVecs(n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        vecs.count()
        val q = vecs.filter(col("vec_id") < 20)
        val t0 = System.nanoTime()
        val idx = graft.vector.VectorFunctions
          .pqIndex(vecs, "vec_id", "embedding", m = 8, ksub = 16, trainIters = 2)
        val pidx = idx.copy(codes = idx.codes
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        pidx.codes.count()
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.vector.VectorFunctions
          .pqQuery(pidx, vecs, q, "vec_id", "embedding", k = 5, shortlist = 50)
          .count()
        val tScan = (System.nanoTime() - t1) / 1e9
        val t2 = System.nanoTime()
        graft.vector.VectorFunctions
          .bruteForceTopK(vecs, q, "vec_id", "embedding", k = 5)
          .count()
        val tBf = (System.nanoTime() - t2) / 1e9
        val tag = s"pq_${mult}x"
        println(f"$tag%-14s $n%8d $tBuild%8.2f $tScan%8.2f $tBf%8.2f")
        pidx.codes.unpersist(blocking = false)
        vecs.unpersist(blocking = false)
      }
    }
    // IVF assignment at 100×: the round-8 narrow per-row argmax
    // (transform over the centroid literal) vs the crossJoin+row_number
    // window it replaced. The claim: assignment wall tracks the corpus
    // ~linearly with NO exchange, while the window form shuffles
    // corpus×nlist rows — the gap should widen with scale.
    if (sec("ivf")) {
      def synthVecs(n: Long): DataFrame =
        spark.range(n).select(col("id").as("vec_id"),
          expr("""transform(sequence(0, 63), j ->
            CAST((((id * 131071 + j * 7919 + 12345) % 1000000007)
                  * 2654435761 % 1000000007)
                 * 2.0 / 1000000007.0 - 1.0 AS FLOAT))""").as("embedding"))
      println(f"${"ivf_assign"}%-14s ${"vecs"}%8s ${"narrow_s"}%9s ${"window_s"}%9s")
      Seq(1 -> 10000L, 100 -> 1000000L, 1000 -> 10000000L).foreach { case (mult, n) =>
        val vecs = synthVecs(n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        vecs.count()
        val cents = vecs.orderBy("vec_id").limit(16)
          .select(col("vec_id").as("cell"), col("embedding").as("__cent"))
        val tNarrow = time {
          graft.vector.VectorFunctions
            .assignCells(vecs, "vec_id", "vec_id", "embedding", cents, keep = 1)
            .count()
        }
        val centsB = broadcast(cents)
        val tWindow = time {
          vecs.crossJoin(centsB)
            .withColumn("__csim",
              graft.vector.VectorFunctions.cosine(col("embedding"), col("__cent")))
            .withColumn("__r", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy("vec_id").orderBy(col("__csim").desc, col("cell"))))
            .filter(col("__r") === 1).select("vec_id", "cell").count()
        }
        val tag = s"ivf_${mult}x"
        println(f"$tag%-14s $n%8d $tNarrow%9.2f $tWindow%9.2f")
        vecs.unpersist(blocking = false)
      }
    }
    // Sketches at 100×: CMS and HLL builds over a synthetic zipf-ish token
    // stream. The claim: both are one partial-aggregating pass whose
    // reduce side is sketch-sized (d·w cells / m registers), so wall
    // tracks the stream ~linearly and state never grows.
    if (sec("sketch")) {
      def stream(n: Long): DataFrame =
        spark.range(n).select(concat(lit("tok_"),
          (pmod(col("id") * 2654435761L, lit(1000003L)) % 5000 + 1).cast("string"))
          .as("token"))
      println(f"${"sketch"}%-14s ${"rows"}%10s ${"cms_s"}%8s ${"hll_s"}%8s")
      Seq(1 -> 1000000L, 100 -> 100000000L).foreach { case (mult, n) =>
        val s0 = stream(n)
        val t0 = System.nanoTime()
        graft.operators.Sketches.cmsSketch(s0, "token", d = 4, w = 4096).count()
        val tC = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        graft.operators.Sketches.hllRegisters(s0, "token", m = 256).count()
        val tH = (System.nanoTime() - t1) / 1e9
        val tag = s"sk_${mult}x"
        println(f"$tag%-14s $n%10d $tC%8.2f $tH%8.2f")
      }
    }
    // Triangles at 10×: deterministic 3-out-degree graph (two affine
    // modular edges + one halving edge → plentiful triangles) plus a hub
    // wired to 1% of nodes — the degenerate case degree orientation must
    // absorb (a raw node-iterator pays Θ(hub²) wedges at the hub). The
    // claim: adjacency intersection carries O(m) state, so wall tracks
    // edges ~linearly.
    if (sec("triangles")) {
      println(f"${"triangles"}%-14s ${"edges"}%9s ${"tris"}%9s ${"wall_s"}%8s")
      Seq(1 -> 333333L, 10 -> 3333333L).foreach { case (mult, n) =>
        val core = spark.range(n).select(col("id").as("a"),
            pmod(col("id") * 7 + 3, lit(n)).as("b"))
          .unionByName(spark.range(n).select(col("id").as("a"),
            pmod(col("id") * 13 + 5, lit(n)).as("b")))
          // the closing edge: (7i+3, 13i+5) completes a triangle with i,
          // so the graph carries ~n real triangles, not just load
          .unionByName(spark.range(n).select(
            pmod(col("id") * 7 + 3, lit(n)).as("a"),
            pmod(col("id") * 13 + 5, lit(n)).as("b")))
          .unionByName(spark.range(1, n).select(col("id").as("a"),
            (col("id") / 2).cast("long").as("b")))
        val hub = spark.range(n / 100).select(lit(0L).as("a"),
          (col("id") * 100 + 7).as("b"))
        val edges = core.unionByName(hub)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ne = edges.count()
        val t0 = System.nanoTime()
        val counts = graft.operators.Triangles.perNodeCounts(edges, "a", "b")
        val tris = counts.agg(sum(col("n_tri"))).head().getLong(0) / 3
        val wall = (System.nanoTime() - t0) / 1e9
        val tag = s"tri_${mult}x"
        println(f"$tag%-14s $ne%9d $tris%9d $wall%8.2f")
        edges.unpersist(blocking = false)
      }
    }
    // PageRank at 10×: deterministic 2-out-degree graph (one modular edge
    // → cycles, one halving edge → hierarchy), fixed 10 iterations. The
    // claim: each iteration is one join + one partial agg, so wall should
    // track edges ~linearly — no superlinear blowup from plan growth
    // (lineage cuts) or block-manager leaks (per-round unpersist).
    if (sec("pagerank")) {
      println(f"${"pagerank"}%-14s ${"edges"}%9s ${"wall_s"}%8s")
      Seq(1 -> 100000L, 10 -> 1000000L).foreach { case (mult, n) =>
        val edges = spark.range(n).select(col("id").as("src"),
            pmod(col("id") * 7 + 3, lit(n)).as("dst"), lit(1L).as("w"))
          .unionByName(spark.range(1, n).select(col("id").as("src"),
            (col("id") / 2).cast("long").as("dst"), lit(1L).as("w")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ne = edges.count()
        val t0 = System.nanoTime()
        graft.operators.PageRank.weightedRanksE6(edges, iters = 10).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val tag = s"pr_${mult}x"
        println(f"$tag%-14s $ne%9d $wall%8.2f")
        edges.unpersist(blocking = false)
      }
    }
    // Round-12 probes.
    // (a) q_dedup_reconcile variance band: clean records range 4.1–6.6 s
    //     across rounds with ZERO code change (VERDICT r11 #2). Run the
    //     exact driver query isolated N times in one JVM (steady-state
    //     JIT), print every wall — the spread plus per-run GC delta
    //     attributes the band (plan nondeterminism would need differing
    //     round counts; GC pressure shows up as wall ∝ collection time).
    if (sec("reconcile")) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "6").toInt
      def gcMillis(): Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      val q = SparkEntry.queries("q_dedup_reconcile")
      q(spark, sfDir).count() // warm (codegen + JIT for this exact plan)
      println(f"${"reconcile"}%-14s ${"run"}%4s ${"wall_s"}%8s ${"gc_ms"}%7s")
      val walls = (1 to iters).map { i =>
        val g0 = gcMillis()
        val t = time(q(spark, sfDir).count())
        println(f"reconcile      $i%4d $t%8.2f ${gcMillis() - g0}%7d")
        t
      }
      println(f"reconcile_band min=${walls.min}%.2f max=${walls.max}%.2f " +
        f"spread=${walls.max / walls.min}%.2fx")
    }
    // (b) span-removal exact-verify at ADVERSARIAL dup share: the r11
    //     sweep stopped at 60% (where the candidate side still broadcasts
    //     under AQE). At 90–100% candidates ≈ corpus, the broadcast
    //     assumption breaks and the verify joins must fall back to
    //     shuffle joins — measure that worst-case wall and NAME the join
    //     strategy the final adaptive plan actually picked.
    if (sec("spanadv")) {
      def spanDocs(n: Long, pct: Int): DataFrame = spark.range(n).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) < lit(pct),
          concat(
            expr("array_join(transform(sequence(1, 60), i -> concat('d', i)), ' ')"),
            lit(" "),
            expr("""array_join(transform(sequence(1, 90),
                      i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')""")))
          .otherwise(expr(
            """array_join(transform(sequence(1, 150),
                 i -> concat('w', pmod(xxhash64(id, i), 50000))), ' ')"""))
          .as("text"))
      def joinMix(plan: org.apache.spark.sql.execution.SparkPlan): String = {
        val s = plan.toString
        def n(needle: String) = needle.r.findAllIn(s).size
        s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
          s"shj=${n("ShuffledHashJoin")}"
      }
      graft.text.CorpusOps.removeDupSpans(spanDocs(2000, 90), "doc_id", "text")
        .agg(sum("n_removed")).head() // warm
      println(f"${"span_adv"}%-14s ${"docs"}%8s ${"dup%"}%6s ${"wall_s"}%8s joins")
      Seq((20000L, 60), (20000L, 90), (20000L, 100),
          (100000L, 100), (200000L, 100)).foreach { case (n, pct) =>
        val out = graft.text.CorpusOps
          .removeDupSpans(spanDocs(n, pct), "doc_id", "text")
          .agg(sum("n_removed"))
        val t = time(out.head())
        println(f"span_adv       $n%8d $pct%6d $t%8.2f ${joinMix(out.queryExecution.executedPlan)}")
      }
    }
    // (c) general-join skew dispatcher (SkewJoin.autoInnerJoin, r12).
    //     What the numbers must establish: (1) the decision cost on the
    //     even shape — a capped no-shuffle probe plus, once it saturates,
    //     one per-key count agg — stays a small constant next to the join
    //     it fronts; (2) the hot-key crossover the salt targets. Both
    //     sides exceed the broadcast threshold in the regime this
    //     operator exists for (a broadcastable dim never skews), so
    //     auto-broadcast is disabled for the section; AQE's runtime skew
    //     split covers SORT-MERGE plans already, so plain is measured
    //     with skew handling both ON and OFF — the OFF wall is what
    //     shuffled-hash or pre-AQE engines would see, the regime the
    //     planner-independent salted form is for.
    if (sec("skewjoin")) {
      val abtWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val skewWas = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def facts(n: Long, hotPct: Int): DataFrame = spark.range(n).select(
        when(pmod(col("id"), lit(100)) < lit(hotPct), lit(7L))
          .otherwise(pmod(col("id") * 31 + 11, lit(100000L))).as("k"),
        (col("id") % 1000).cast("double").as("payload"))
      val dim = spark.range(100000L).select(col("id").as("dk"),
        (col("id") % 97).cast("double").as("weight"))
      def agg(df: DataFrame): Any =
        df.agg(sum(col("payload") * col("weight"))).head()
      def plain(n: Long, pct: Int): Any =
        agg(facts(n, pct).join(dim, col("k") === col("dk")))
      def auto(n: Long, pct: Int): Any =
        agg(graft.operators.SkewJoin.autoInnerJoin(
          facts(n, pct), dim, "k", "dk"))
      def salted(n: Long, pct: Int, s: Int): Any =
        agg(graft.operators.SkewJoin.saltedInnerJoin(
          facts(n, pct), dim, "k", "dk", salts = s))
      plain(100000L, 90); auto(100000L, 90); salted(100000L, 90, 4) // warm
      println(f"${"skewjoin"}%-22s ${"rows"}%9s ${"hot%"}%5s ${"wall_s"}%8s")
      def row(tag: String, n: Long, pct: Int, f: => Any): Unit =
        println(f"$tag%-22s $n%9d $pct%5d ${time(f)}%8.2f")
      Seq("true", "false").foreach { skew =>
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew)
        row(s"plain_aqeskew=$skew", 10000000L, 90, plain(10000000L, 90))
      }
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      row("salted9", 10000000L, 90, salted(10000000L, 90, 9))
      row("auto(->salted)", 10000000L, 90, auto(10000000L, 90))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewWas)
      // even shape: the dispatcher must not tax the common case — the
      // delta between these two rows IS the decision cost (quick reject
      // saturates at 10M rows, so the per-key agg tier runs in full)
      row("plain_even", 10000000L, 0, plain(10000000L, 0))
      row("auto_even(->plain)", 10000000L, 0, auto(10000000L, 0))
      // quick-reject regime: total under the 1M threshold, decision is
      // one bounded no-shuffle job
      row("plain_small", 500000L, 90, plain(500000L, 90))
      row("auto_small(->plain)", 500000L, 90, auto(500000L, 90))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", abtWas)
    }
    // (d) auto-sized as-of bucket width (r14). The bucketed form exists to
    //     break one hot key across time buckets; a FIXED day-wide bucket
    //     re-serializes as soon as per-day density crosses the ~1M-row
    //     crossover (at 10× density a day bucket holds 10M rows — the
    //     skew is back, just one level down). bucketWidthFor with no
    //     density windows targets ≈ crossover rows per (key, bucket) from
    //     the average density over the span,
    //     so rows-per-bucket stays constant as density scales. What the
    //     numbers must establish: the fixed-width wall grows ~linearly
    //     in density (serialized single bucket) while the auto-width
    //     wall stays near-flat (extra rows land in extra buckets that
    //     run in parallel until cores saturate).
    if (sec("asofwidth")) {
      val day = 86400L
      def hotSide(n: Long, payload: Boolean): DataFrame = {
        val base = spark.range(n).select(
          lit("HOT").as("k"),
          timestamp_seconds(lit(1704067200L) + col("id") * day / n).as("t"),
          col("id").as("ord"))
        if (payload) base.withColumn("v", (col("ord") % 1000).cast("double"))
        else base
      }
      def run(nLeft: Long, width: Long): Double = {
        val l = hotSide(nLeft, payload = false)
        val r = hotSide(nLeft / 2, payload = true)
          .select(col("k"), col("t"), col("v"))
        // aggregate the JOINED payload, not count(): a bare count lets
        // column pruning drop the unused window fill entirely and the
        // probe times an empty shell
        time(graft.operators.AsofJoin.leftAsofBucketed(
          l, r, Seq("k"), "t", "t", Seq("v"), "_c", bucketSeconds = width)
          .agg(count(col("v_c")), sum(col("v_c"))).head())
      }
      run(200000L, day); run(200000L, 60L) // warm both plan shapes
      println(f"${"asof_width"}%-14s ${"rows"}%9s ${"width_s"}%8s ${"buckets"}%8s ${"wall_s"}%8s")
      Seq(2000000L, 8000000L, 20000000L).foreach { n =>
        val total = n + n / 2
        val auto = graft.operators.AsofJoin.bucketWidthFor(total, day, Nil)
        Seq("fixed_day" -> day, "auto" -> auto).foreach { case (tag, w) =>
          val wall = run(n, w)
          println(f"$tag%-14s $n%9d $w%8d ${day / w}%8d $wall%8.2f")
        }
      }
      // and the dispatcher END-TO-END: verdict + width from the probe
      val l = hotSide(2000000L, payload = false)
      val r = hotSide(1000000L, payload = true).select(col("k"), col("t"), col("v"))
      val d = graft.operators.AsofJoin.chooseAsofDispatch(
        l, r, Seq("k"), "t", "t")
      println(s"dispatch_e2e   $d " +
        s"(expected Bucketed, ~${graft.operators.AsofJoin.bucketWidthFor(3000000L, day, Nil)}s)")
    }
    // (r15) BURST resistance of the auto as-of width: fixed rows on one
    //     hot key over a FIXED month span, concentration swept — conc=c
    //     bunches the rows into span/c of wall time while sparse anchor
    //     rows pin the span at the month. The r14 average-density width
    //     (span × target / rows) is blind to c: at c=10 the burst packs
    //     ~10× the target into each average-sized bucket and the hot
    //     partition re-serializes exactly where the rows are. The
    //     burst-aware dispatch (hottestKeyBurstStats → peak-density
    //     width) shrinks the bucket with the measured peak instead, so
    //     its wall stays ~flat as c grows.
    if (sec("asofburst")) {
      val monthSec = 30L * 86400L
      def burstSide(n: Long, conc: Long, payload: Boolean): DataFrame = {
        val winUs = monthSec * 1000000L / conc
        val dense = spark.range(n).select(
          lit("HOT").as("k"),
          expr(s"timestamp_micros(1704067200000000 + CAST(id * ($winUs.0 / $n) AS BIGINT))").as("t"),
          col("id").as("ord"))
        // 1000 sparse anchors keep the measured SPAN at a month for every
        // concentration — the burst-inside-a-wide-span shape under test
        val anchors = spark.range(1000L).select(
          lit("HOT").as("k"),
          expr(s"timestamp_micros(1704067200000000 + id * ${monthSec * 1000L})").as("t"),
          (col("id") + n).as("ord"))
        val u = dense.unionByName(anchors)
        if (payload)
          u.select(col("k"), col("t"), (col("ord") % 1000).cast("double").as("v"))
        else u.select(col("k"), col("t"), col("ord"))
      }
      def run(n: Long, conc: Long, mode: String): Double = {
        val l = burstSide(n, conc, payload = false)
        val r = burstSide(n / 2, conc, payload = true)
        // aggregate the joined payload (count alone would let pruning
        // delete the window fill being measured)
        if (mode == "avg") {
          // the r14 sizing: average density over the span, no density
          // windows — burst-blind
          val width = graft.operators.AsofJoin
            .bucketWidthFor(n + n / 2 + 2000L, monthSec, Nil)
          time(graft.operators.AsofJoin.leftAsofBucketed(
            l, r, Seq("k"), "t", "t", Seq("v"), "_c", bucketSeconds = width)
            .agg(count(col("v_c")), sum(col("v_c"))).head())
        } else {
          time(graft.operators.AsofJoin.leftAsofAuto(
            l, r, Seq("k"), "t", "t", Seq("v"), "_c")
            .agg(count(col("v_c")), sum(col("v_c"))).head())
        }
      }
      run(200000L, 10L, "avg"); run(200000L, 10L, "auto") // warm both shapes
      println(f"${"asof_burst"}%-14s ${"rows/side"}%10s ${"conc"}%5s ${"wall_s"}%8s")
      Seq(1L, 10L, 100L).foreach { c =>
        Seq("avg", "auto").foreach { m =>
          val wall = run(8000000L, c, m)
          println(f"asof_$m%-9s ${8000000L}%10d $c%5d $wall%8.2f")
        }
      }
      // the width the dispatcher actually picks at each concentration
      Seq(1L, 10L, 100L).foreach { c =>
        val l = burstSide(8000000L, c, payload = false)
        val r = burstSide(4000000L, c, payload = true)
        val d = graft.operators.AsofJoin
          .chooseAsofDispatch(l, r, Seq("k"), "t", "t")
        println(s"burst_dispatch conc=$c $d")
      }
      // (r16) MINUTE-scale burst: every dense row inside ONE 60 s window
      // of the month. The HOURLY peak sees the burst at hour resolution —
      // its width (3600 × target / rows ≈ 450 s here) still swallows the
      // whole 60 s burst into a single bucket, re-serializing it; the
      // minute peak (same probe pass) demands 60 × target / rows ≈ 7 s,
      // cutting the burst into ~target-row buckets.
      def microSide(n: Long, payload: Boolean): DataFrame = {
        val dense = spark.range(n).select(
          lit("HOT").as("k"),
          expr(s"timestamp_micros(1704067200000000 + CAST(id * (60000000.0 / $n) AS BIGINT))").as("t"),
          col("id").as("ord"))
        val anchors = spark.range(1000L).select(
          lit("HOT").as("k"),
          expr(s"timestamp_micros(1704067200000000 + id * ${monthSec * 1000L})").as("t"),
          (col("id") + n).as("ord"))
        val u = dense.unionByName(anchors)
        if (payload)
          u.select(col("k"), col("t"), (col("ord") % 1000).cast("double").as("v"))
        else u.select(col("k"), col("t"), col("ord"))
      }
      def runMicro(n: Long, mode: String): Double = {
        val l = microSide(n, payload = false)
        val r = microSide(n / 2, payload = true)
        if (mode == "hourpeak") {
          // the r15 sizing: the hour window only — the whole minute burst
          // lands in one hour, so this width is ~3600·target/rows
          val rows = n + n / 2 + 2000L
          val width = graft.operators.AsofJoin
            .bucketWidthFor(rows, monthSec, Seq(rows -> 3600L))
          time(graft.operators.AsofJoin.leftAsofBucketed(
            l, r, Seq("k"), "t", "t", Seq("v"), "_c", bucketSeconds = width)
            .agg(count(col("v_c")), sum(col("v_c"))).head())
        } else {
          time(graft.operators.AsofJoin.leftAsofAuto(
            l, r, Seq("k"), "t", "t", Seq("v"), "_c")
            .agg(count(col("v_c")), sum(col("v_c"))).head())
        }
      }
      runMicro(200000L, "hourpeak"); runMicro(200000L, "auto") // warm
      println(f"${"asof_uburst"}%-14s ${"rows/side"}%10s ${"wall_s"}%8s")
      Seq("hourpeak", "auto").foreach { m =>
        val wall = runMicro(8000000L, m)
        println(f"uburst_$m%-12s ${8000000L}%10d $wall%8.2f")
      }
      locally {
        val l = microSide(8000000L, payload = false)
        val r = microSide(4000000L, payload = true)
        val d = graft.operators.AsofJoin
          .chooseAsofDispatch(l, r, Seq("k"), "t", "t")
        println(s"uburst_dispatch $d")
      }
    }
    // (f) big-big interval-overlap join on ONE hot key (r14): Catalyst
    //     executes the keyed theta join as a join on the key alone with
    //     the range predicate as a residual filter — every same-key pair
    //     enumerated, so doubling rows quadruples work. IntervalJoin
    //     widens the equi key to (key, bucket): only bucket-sharing pairs
    //     are enumerated, so work tracks ACTUAL overlap volume. Row
    //     counts must agree at every size (both forms are exact).
    if (sec("intervaljoin")) {
      def side(n: Long, mul: Long): DataFrame = spark.range(n).select(
        lit("HOT").as("k"),
        timestamp_seconds(lit(1704067200L) + pmod(col("id") * mul, lit(n)) * 60L).as("s"),
        col("id").as("oid"))
        .withColumn("e", col("s") + make_dt_interval(lit(0), lit(0), lit(0),
          (col("oid") % 3600L + 1L).cast("double")))
      def naiveCount(l: DataFrame, r: DataFrame): Long = {
        val rr = r.select(col("k"), col("s").as("s2"), col("e").as("e2"))
        l.join(rr, l("k") === rr("k") && col("s") < col("e2") && col("s2") < col("e"))
          .count()
      }
      def oursCount(l: DataFrame, r: DataFrame): Long =
        graft.operators.IntervalJoin.overlapJoin(
          l, r, Seq("k"), "s", "e", "s", "e", "_r", bucketSeconds = 3600L).count()
      locally { val l0 = side(2000, 7919); val r0 = side(2000, 104729) // warm
        naiveCount(l0, r0); oursCount(l0, r0) }
      println(f"${"interval_join"}%-14s ${"rows/side"}%10s ${"pairs"}%10s ${"naive_s"}%8s ${"bucketed_s"}%10s")
      Seq(20000L, 80000L, 320000L).foreach { n =>
        val l = side(n, 7919); val r = side(n, 104729)
        var pairsN = 0L; var pairsB = 0L
        val tn = time { pairsN = naiveCount(l, r) }
        val tb = time { pairsB = oursCount(l, r) }
        require(pairsN == pairsB, s"row mismatch: naive=$pairsN bucketed=$pairsB")
        println(f"interval_join  $n%10d $pairsB%10d $tn%8.2f $tb%10.2f")
      }
    }
    // (e2) zone-map pruned range scan (r15): a narrow time predicate over a
    //     range-clustered export, planned (a) as a plain filtered scan of
    //     the whole directory vs (b) through storage.PrunedScan's manifest
    //     zone map. The structural metric is FILES PLANNED: the plain scan
    //     lists and footer-opens every file at any data size, the zone-map
    //     scan touches only the files whose [min,max] intersect the day —
    //     constant as the export grows (the day's row count grows with
    //     replication here because replicas share the time span; at real
    //     scale a day is a constant slice). Wall at local[32] understates
    //     the win (hot page cache, no object-store listing latency); the
    //     planned-file count is the 100 TB story.
    if (sec("prunedscan")) {
      import graft.storage.{Manifest, PrunedScan, RangeWriter}
      val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-10 23:59:59.999999")
      def agg(d: DataFrame) = d.agg(count(lit(1)), sum("value")).head()
      println(f"${"pruned_scan"}%-14s ${"files"}%6s ${"planned"}%8s ${"rows"}%10s ${"wall_s"}%8s")
      Seq(1, 4, 16).foreach { m =>
        val out = s"$base/zonemap_x$m"
        if (!new java.io.File(s"$out/_manifest").exists()) {
          val reps = spark.range(m.toLong).select(col("id").as("rep"))
          val df = src.crossJoin(reps)
            .withColumn("event_id", col("event_id") + col("rep") * lit(10000000L))
            .select("event_id", "ts", "user_id", "value")
          RangeWriter.writeSorted(df, out, Seq("ts", "event_id"), numFiles = 64 * m)
          Manifest.write(spark, out, "ts")
        }
        val total = new java.io.File(out).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
        val fullDf = spark.read.parquet(out)
          .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        val wFull = time(agg(fullDf))
        val prunedDf = PrunedScan.readRange(spark, out, "ts", lo, hi)
        val wPruned = time(agg(prunedDf))
        val rows = prunedDf.count()
        assert(rows == fullDf.count(), "zone-map scan must match the plain scan")
        println(f"${s"full_x$m"}%-14s $total%6d $total%8d $rows%10d $wFull%8.2f")
        println(f"${s"zonemap_x$m"}%-14s $total%6d ${prunedDf.inputFiles.length}%8d $rows%10d $wPruned%8.2f")
      }
    }
    // (e2b) z-order + 2-column zone map (r16): ONE layout serving BOTH
    //     access patterns. A lexicographic (ts, event_id) sort prunes only
    //     on ts — a replicated export's per-file event_id ranges span the
    //     whole id space, so an id-range scan reads everything. Morton
    //     clustering keeps per-file min/max tight in BOTH dimensions; with
    //     the manifest recording both columns, a time-range scan AND an
    //     id-range scan each plan O(few) files, and the planned-file count
    //     stays ~constant as the export grows (the structural 100 TB
    //     metric, as in e2).
    if (sec("zorder2col")) {
      import graft.storage.{Manifest, PrunedScan, RangeWriter}
      val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      val hi = java.sql.Timestamp.valueOf("2024-01-10 23:59:59.999999")
      // input-pass accounting for the export (r17 verdict item 4): count
      // Spark jobs during writeZOrdered. The listener bus is async, so
      // drain with a bounded settle wait before reading the counter.
      val exportJobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val jobListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          exportJobs.incrementAndGet(); ()
        }
      }
      def countJobs(f: => Unit): Int = {
        spark.sparkContext.addSparkListener(jobListener)
        try { exportJobs.set(0); f; Thread.sleep(2000); exportJobs.get() }
        finally spark.sparkContext.removeSparkListener(jobListener)
      }
      // dimension bounds from ONE small agg over the BASE slice, scaled
      // arithmetically per replication factor — the per-export exact
      // min/max pre-aggregation (a full input pass) is gone; cell()'s
      // two-sided clamp makes supplied bounds safe by construction
      val sb = src.agg(
        min(col("event_id")), max(col("event_id")),
        // tmin is a true-division DOUBLE column; bounds are cast-to-long
        // semantics (truncation is monotone, so these are valid extremes)
        min((unix_micros(col("ts")) / 60000000L).cast("long")),
        max((unix_micros(col("ts")) / 60000000L).cast("long"))).head()
      println(f"${"zorder_2col"}%-14s ${"files"}%6s ${"planned"}%8s ${"rows"}%10s ${"wall_s"}%8s ${"wr_jobs"}%8s ${"agg_jobs"}%8s")
      Seq(1, 4, 16).foreach { m =>
        val out = s"$base/zorder2_x$m"
        val reps = spark.range(m.toLong).select(col("id").as("rep"))
        val df = src.crossJoin(reps)
          .withColumn("event_id", col("event_id") + col("rep") * lit(10000000L))
          .select(col("event_id"), col("ts"), col("user_id"), col("value"),
            (unix_micros(col("ts")) / 60000000L).as("tmin"))
        var wroteJobs = -1
        var aggJobs = -1
        if (!new java.io.File(s"$out/_manifest").exists()) {
          // tmin (whole minutes) rides along as the z-order's second
          // dimension; ts itself carries the manifest's primary stats
          wroteJobs = countJobs {
            RangeWriter.writeZOrdered(df, out, "event_id", "tmin",
              bits = 12, numFiles = 64 * m,
              manifestKey = Some(("ts", Seq("event_id"))),
              bounds = Some((sb.getLong(0),
                sb.getLong(1) + (m - 1).toLong * 10000000L,
                sb.getLong(2), sb.getLong(3))))
          }
          // comparison export through the exact-agg path (one extra full
          // input pass): the job delta IS the eliminated pre-aggregation
          val cmp = s"$base/zorder2_cmp"
          aggJobs = countJobs {
            RangeWriter.writeZOrdered(df, cmp, "event_id", "tmin",
              bits = 12, numFiles = 64 * m,
              manifestKey = Some(("ts", Seq("event_id"))))
          }
          org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(cmp))
          ()
        }
        val total = new java.io.File(out).listFiles()
          .count(_.getName.endsWith(".parquet"))
        def agg(d: DataFrame) = d.agg(count(lit(1)), sum("value")).head()
        // time-range scan (primary axis)
        val tFull = spark.read.parquet(out)
          .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        val tPruned = PrunedScan.readRange(spark, out, "ts", lo, hi)
        val wT = time(agg(tPruned))
        assert(tPruned.count() == tFull.count(), "time scan must match")
        println(f"${s"time_x$m"}%-14s $total%6d ${tPruned.inputFiles.length}%8d ${tPruned.count()}%10d $wT%8.2f $wroteJobs%8d $aggJobs%8d")
        // id-range scan (secondary axis — the pattern a (ts, id) sort
        // cannot prune at all on a replicated export)
        val iFull = spark.read.parquet(out)
          .filter(col("event_id") >= 10000L && col("event_id") <= 30000L)
        val iPruned = PrunedScan.readRangeMulti(spark, out,
          Seq(("event_id", 10000L, 30000L)))
        val wI = time(agg(iPruned))
        assert(iPruned.count() == iFull.count(), "id scan must match")
        println(f"${s"id_x$m"}%-14s $total%6d ${iPruned.inputFiles.length}%8d ${iPruned.count()}%10d $wI%8.2f")
      }
    }
    // (e2d) bloom-sidecar point index (r18): on a HASH-clustered layout
    //     every file spans ~the full value range, so min/max zone maps
    //     prune nothing for `col = v` — but each value hashes into
    //     exactly one file, and the manifest's per-file bloom sketches
    //     (one base64 line field per file, built on the same single
    //     stats scan) let the driver plan O(values) files with ZERO
    //     data-file opens. The structural 100 TB metric: planned files
    //     per point lookup stays ~constant as the export grows, and the
    //     planning cost is one sidecar read (O(files) driver work, no
    //     footer round-trips).
    if (sec("bloom")) {
      import graft.storage.{Manifest, PrunedScan}
      println(f"${"bloom_point"}%-14s ${"files"}%6s ${"planned"}%8s ${"rows"}%10s ${"wall_s"}%8s ${"plan_s"}%8s")
      Seq(1, 4, 16).foreach { m =>
        val out = s"$base/bloom_x$m"
        if (!new java.io.File(s"$out/_manifest").exists()) {
          val reps = spark.range(m.toLong).select(col("id").as("rep"))
          // users replicate with the data, so per-file distinct count
          // stays ~constant as the export grows — the sizing that keeps
          // a fixed-width sketch useful at any scale
          val df = src.crossJoin(reps)
            .withColumn("user_id", col("user_id") + col("rep") * lit(1000000L))
            .select("event_id", "ts", "user_id", "value")
          df.repartition(64 * m, col("user_id"))
            .write.mode("overwrite").parquet(out)
          Manifest.write(spark, out, "ts",
            bloomCols = Seq("user_id"), bloomExpected = 20000L, bloomFpp = 0.02)
        }
        val total = new java.io.File(out).listFiles()
          .count(_.getName.endsWith(".parquet"))
        val probe = Seq[Any](42L, 1000137L) // second exists only at m>=2
        def agg(d: DataFrame) = d.agg(count(lit(1)), sum("value")).head()
        val fullDf = spark.read.parquet(out)
          .filter(col("user_id").isin(probe: _*))
        val wFull = time(agg(fullDf))
        val wPlan = time(PrunedScan.readPoint(spark, out, "user_id", probe))
        val prunedDf = PrunedScan.readPoint(spark, out, "user_id", probe)
        val wPruned = time(agg(prunedDf))
        val rows = prunedDf.count()
        assert(rows == fullDf.count(), "bloom scan must match the plain scan")
        println(f"${s"full_x$m"}%-14s $total%6d $total%8d ${fullDf.count()}%10d $wFull%8.2f ${"-"}%8s")
        println(f"${s"bloom_x$m"}%-14s $total%6d ${prunedDf.inputFiles.length}%8d $rows%10d $wPruned%8.2f $wPlan%8.2f")
      }
    }
    // (e2c) keyset pagination over the pruned month-partitioned warehouse
    //     (r17): each page derives loMonth + a zone-map lower bound from
    //     its cursor, so a page at the TAIL of a deep table lists and
    //     plans only the tail months' files — the plain form re-lists and
    //     re-plans the WHOLE table on every page. The structural 100 TB
    //     metric: planned files per page must track the REMAINING range,
    //     not the table size (at 10 years × many files/month, the plain
    //     form's per-page listing+footer work is O(all files) × O(pages)).
    if (sec("pagedprune")) {
      import graft.ingest.TickIngest
      import graft.query.QueryEngine
      val wh = s"$base/page_wh"
      val root = s"$wh/raw_spread_ticks"
      // key the skip-if-exists guard on the INSTRUMENT dir, not the table
      // root: a crashed prior run can leave the root with only _temporary,
      // which the root check would treat as ingested (null listFiles NPE
      // below, unreadable parquet) — stale partial state then wedges every
      // later probe run
      val instDir = new java.io.File(s"$root/instrument=EURUSD")
      if (!instDir.exists()) {
        // ~2M ticks at 32 s spacing from 2020-01-01 → spans ~24 months
        val ticks = spark.range(2000000L).select(
          timestamp_seconds(lit(1577836800L) + col("id") * 32L).as("timestamp"),
          (lit(1.10) + (col("id") % 1000L).cast("double") / 100000.0).as("bid"),
          (lit(1.10) + (col("id") % 1000L).cast("double") / 100000.0 + 0.0002).as("ask"))
        TickIngest.writeTicks(ticks, wh, "EURUSD", "raw_spread")
      }
      val months = Option(instDir.listFiles()).fold(0)(
        _.count(_.getName.startsWith("yyyymm=")))
      val totalFiles = spark.read.parquet(root).inputFiles.length
      // cursor deep in the LAST month — the worst case for the plain form
      val cursor = java.sql.Timestamp.valueOf("2021-12-15 00:00:00")
      val p = new graft.api.Processor(spark, wh)
      val plainDf = spark.read.parquet(root)
        .filter(col("instrument") === "EURUSD" && col("timestamp") > lit(cursor))
        .select("timestamp", "bid", "ask")
      val prunedDf = p.ticksFrom("EURUSD", "raw_spread", None, None)(Some(cursor))
      val wPlain = time(QueryEngine.cursorPage(
        spark.read.parquet(root).filter(col("instrument") === "EURUSD")
          .select("timestamp", "bid", "ask"),
        "timestamp", Nil, Some(cursor), 10000))
      val wPruned = time(QueryEngine.cursorPageBy(
        p.ticksFrom("EURUSD", "raw_spread", None, None),
        "timestamp", Nil, Some(cursor), 10000))
      assert(prunedDf.filter(col("timestamp") > lit(cursor)).count() ==
        plainDf.count(), "pruned tail page scan must match the plain scan")
      println(f"${"paged_prune"}%-14s ${"months"}%6s ${"files"}%6s ${"planned"}%8s ${"wall_s"}%8s")
      println(f"${"plain_tail"}%-14s $months%6d $totalFiles%6d $totalFiles%8d $wPlain%8.2f")
      println(f"${"pruned_tail"}%-14s $months%6d $totalFiles%6d ${prunedDf.inputFiles.length}%8d $wPruned%8.2f")
    }
    // (e3) LEFT-outer overlap join's lineage cut (r16): overlapJoinLeft
    //     materializes the matched output once (MEMORY_AND_DISK local
    //     checkpoint) so the bucketed join isn't executed twice for the
    //     two output branches. The probe pins the SPILL POSTURE at growing
    //     size: the cut's storage level must be disk-backed (so a matched
    //     side larger than executor memory spills instead of OOMing),
    //     bytes-per-output-row must stay flat (no superlinear residency),
    //     and the blocks must be releasable once the consumer is done.
    if (sec("overlapleft")) {
      def side(n: Long, mul: Long): DataFrame = spark.range(n).select(
        (col("id") % 64L).cast("string").as("k"),
        timestamp_seconds(lit(1704067200L) + pmod(col("id") * mul, lit(n)) * 60L).as("s"),
        col("id").as("oid"))
        .withColumn("e", col("s") + make_dt_interval(lit(0), lit(0), lit(0),
          (col("oid") % 3600L + 1L).cast("double")))
      println(f"${"overlap_left"}%-14s ${"rows/side"}%10s ${"out_rows"}%10s ${"wall_s"}%8s ${"cut_mem_mb"}%10s ${"cut_disk_mb"}%11s ${"b/row"}%8s")
      Seq(40000L, 400000L).foreach { n =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        var rows = 0L
        val l = side(n, 7919); val r = side(n, 104729)
        val w = time {
          rows = graft.operators.IntervalJoin.overlapJoinLeft(
            l, r, Seq("k"), "s", "e", "s", "e", "_r", bucketSeconds = 3600L)
            .count()
        }
        val newIds = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
        val infos = spark.sparkContext.getRDDStorageInfo
          .filter(i => newIds.contains(i.id))
        require(infos.nonEmpty, "the lineage cut left no persisted RDD to audit")
        require(infos.forall(_.storageLevel.useDisk),
          s"cut storage level not disk-backed: ${infos.map(_.storageLevel).mkString}")
        val mem = infos.map(_.memSize).sum
        val disk = infos.map(_.diskSize).sum
        println(f"overlap_left   $n%10d $rows%10d $w%8.2f ${mem / 1e6}%10.1f ${disk / 1e6}%11.1f ${(mem + disk).toDouble / math.max(rows, 1)}%8.1f")
        // release: once the consumer's action is done the blocks must free
        newIds.foreach(id =>
          spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
      }
    }
    // (e4) stream-stream ASOF state under key-cardinality growth (r16):
    //     the operator's state is pending lefts above the watermark plus
    //     ONE carry right per key — O(keys) by design, with NO eviction
    //     (the same posture as any keyed streaming aggregate: a key seen
    //     once is remembered). The probe measures the state store's actual
    //     row/byte footprint via the streaming progress events as keys
    //     grow 10×, pinning linear-in-keys (not rows) growth.
    if (sec("streamstate")) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val peak = new java.util.concurrent.atomic.AtomicLong(0L)
      val peakBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val so = e.progress.stateOperators
          if (so.nonEmpty) {
            peak.getAndAccumulate(so.map(_.numRowsTotal).sum, math.max)
            peakBytes.getAndAccumulate(so.map(_.memoryUsedBytes).sum, math.max)
          }
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      def sideK(keys: Long, perKey: Long): DataFrame =
        spark.range(keys * perKey).select(
          (col("id") % keys).as("k"),
          timestamp_seconds(lit(1704067200L) + (col("id") / keys) * 60L).as("t"),
          (col("id") % 97L).cast("double").as("v"),
          col("id").as("ord"))
      println(f"${"stream_state"}%-14s ${"keys"}%10s ${"rows/side"}%10s ${"wall_s"}%8s ${"peak_rows"}%10s ${"rows/key"}%9s ${"peak_mb"}%8s")
      spark.streams.addListener(listener)
      try Seq(10000L, 100000L, 1000000L).foreach { keys =>
        peak.set(0L); peakBytes.set(0L)
        var out = 0L
        val w = time {
          out = graft.streaming.StreamingGate
            .asofAvailableNow(spark, sideK(keys, 4), sideK(keys, 4))
            .count()
        }
        // listener delivery is async; progress events flush within the bus
        Thread.sleep(2000)
        require(out == keys * 4, s"asof output rows: got $out, want ${keys * 4}")
        println(f"stream_state   $keys%10d ${keys * 4}%10d $w%8.2f ${peak.get()}%10d ${peak.get().toDouble / keys}%9.2f ${peakBytes.get() / 1e6}%8.1f")
      } finally spark.streams.removeListener(listener)
    }
    // (d2) carry TTL under a CHURNING key space (r18, verdict item 6):
    //     session-like keys never recur, so the rights-only carry is one
    //     state row per key EVER SEEN — unbounded over a stream's
    //     lifetime. With rightTtlMs the carry dies once the watermark
    //     passes it by the TTL, so state tracks the ACTIVE key window.
    //     20 files × 10k fresh keys each (1 right + 1 left per key, file
    //     times 60 s apart, 2 min watermark): results are IDENTICAL both
    //     ways (every left matches its same-file right before the carry
    //     can expire) — only the state footprint differs.
    if (sec("streamttl")) {
      import org.apache.spark.sql.streaming.StreamingQueryListener
      import graft.streaming.StreamingAsof
      val files = 20; val perFile = 10000L
      val peak = new java.util.concurrent.atomic.AtomicLong(0L)
      val last = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val so = e.progress.stateOperators
          if (so.nonEmpty) {
            peak.getAndAccumulate(so.map(_.numRowsTotal).sum, math.max)
            last.set(so.map(_.numRowsTotal).sum)
          }
        }
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      def run(ttl: Option[Long]): (Long, Long, Double) = {
        val root = java.nio.file.Files
          .createTempDirectory("graft_streamttl").toString
        val in = s"$root/in"; val out = s"$root/out"; val chk = s"$root/chk"
        val t0 = 1704067200L
        val mod0 = System.currentTimeMillis() - 3600000L
        (0 until files).foreach { i =>
          val keys = spark.range(i * perFile, (i + 1) * perFile)
          keys.select(col("id").as("k"),
              timestamp_seconds(lit(t0 + i * 60L)).as("t"),
              lit(0).as("side"), array(col("id").cast("double")).as("v"),
              col("id").as("ord"))
            .unionByName(keys.select(col("id").as("k"),
              timestamp_seconds(lit(t0 + i * 60L + 1L)).as("t"),
              lit(1).as("side"), array(col("id").cast("double")).as("v"),
              col("id").as("ord")))
            .coalesce(1).write.mode("append").parquet(in)
          new java.io.File(in).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
              f.lastModified() > mod0 + i * 60000L)
            .foreach(_.setLastModified(mod0 + i * 60000L))
        }
        Seq(10, 20).zipWithIndex.foreach { case (plusMin, j) =>
          spark.range(1).select(lit(Long.MinValue).as("k"),
              timestamp_seconds(lit(t0 + files * 60L + plusMin * 60L)).as("t"),
              lit(0).as("side"), array(lit(0.0)).as("v"), lit(0L).as("ord"))
            .coalesce(1).write.mode("append").parquet(in)
          new java.io.File(in).listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
              f.lastModified() > mod0 + (files + j) * 60000L)
            .foreach(_.setLastModified(mod0 + (files + j) * 60000L))
        }
        import spark.implicits._
        peak.set(0L); last.set(0L)
        spark.streams.addListener(listener)
        val w = try time {
          val stream = spark.readStream
            .schema(spark.read.parquet(in).schema)
            .option("maxFilesPerTrigger", "1").parquet(in)
            .withWatermark("t", "2 minutes")
            .as[StreamingAsof.In]
          val q = StreamingAsof.leftAsofStream(stream, ttl).toDF()
            .writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", chk)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val got = spark.read.parquet(out).filter(col("k") =!= Long.MinValue)
          require(got.count() == files * perFile &&
            got.filter(col("rord").isNotNull).count() == files * perFile,
            "TTL must not change results here — every left matches in-file")
        } finally { Thread.sleep(2000); spark.streams.removeListener(listener) }
        (peak.get(), last.get(), w)
      }
      println(f"${"stream_ttl"}%-14s ${"keys"}%8s ${"peak_rows"}%10s ${"final_rows"}%10s ${"wall_s"}%8s")
      val (p0, l0, w0) = run(None)
      println(f"${"no_ttl"}%-14s ${files * perFile}%8d $p0%10d $l0%10d $w0%8.2f")
      val (p1, l1, w1) = run(Some(60000L))
      println(f"${"ttl_60s"}%-14s ${files * perFile}%8d $p1%10d $l1%10d $w1%8.2f")
    }
    // (e) the COMPOSED corpus pipeline (r14, carried from the r12 brief):
    //     CorpusPipelineSpec's 6-stage chain (quality → exact dedup →
    //     near-dup dedup → span removal → decontaminate → split) run as
    //     ONE composed plan at 1× and 10× docs. Per-op probes measure each
    //     stage against fresh input; what only the composition shows is
    //     cross-stage cost — un-persisted stage boundaries re-evaluated by
    //     several consumers, and fixpoint-internal persists accumulating
    //     in the block manager across stages. The probe prints the
    //     persisted-RDD count before/after each run (a growing count
    //     across REPEATED runs is a leak) and the 10×/1× wall ratio.
    if (sec("corpuschain")) {
      import graft.operators.{Dedup, Sampling}
      import graft.text.{CorpusOps, TextFunctions}
      def chain(docs: DataFrame): Long = {
        val quality = docs.filter(TextFunctions.tokenCount(col("text")) >= 5)
        val keepExact = Dedup.exactText(quality, "text", "doc_id")
          .select(col("keep_id").as("doc_id"))
        val exact = quality.join(keepExact, Seq("doc_id"), "left_semi")
        val labels = graft.text.MinHash.nearDupGroups(exact, "doc_id", "text")
        val near = exact.join(
          labels.filter(col("id") === col("group_rep"))
            .select(col("id").as("doc_id")),
          Seq("doc_id"), "left_semi")
        val cleaned = CorpusOps.removeDupSpans(near, "doc_id", "text")
        val corpus = near.select("doc_id").join(
          cleaned.select(col("id").as("doc_id"), col("cleaned_text").as("text")),
          Seq("doc_id"))
        val bench = docs.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id") + 1000000000L, col("text"))
          .toDF("doc_id", "text")
        val decon = graft.text.MinHash.decontaminate(corpus, bench, "doc_id", "text")
        decon.withColumn("split", Sampling.splitLabel(col("doc_id")))
          .groupBy("split").agg(count(lit(1))).count()
      }
      def persisted(): Int = spark.sparkContext.getPersistentRDDs.size
      // real table once (absolute wall at sf0.1), then synthetic 1×/10×
      // for the scaling ratio (same generator both sides — the real
      // corpus's duplication profile would confound the ratio)
      val real = graft.catalog.Tables.documents(spark,
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      chain(real.limit(2000)) // warm every stage's codegen path
      println(f"${"corpus_chain"}%-16s ${"docs"}%8s ${"wall_s"}%8s ${"rdds_before"}%12s ${"rdds_after"}%11s")
      Seq("real_sf" -> real).foreach { case (tag, df) =>
        val n = df.count(); val b = persisted()
        val t = time(chain(df))
        println(f"$tag%-16s $n%8d $t%8.2f $b%12d ${persisted()}%11d")
      }
      Seq(1, 10).foreach { mult =>
        val n = 20000L * mult
        synthDocs(n).write.mode("overwrite").parquet(s"$base/docs_chain_x$mult")
        val df = spark.read.parquet(s"$base/docs_chain_x$mult")
        val b = persisted()
        val t = time(chain(df))
        println(f"synth_x$mult%-15s $n%8d $t%8.2f $b%12d ${persisted()}%11d")
      }
      // repeated-run leak check: a steady persisted-RDD count across runs
      // means stage internals clean up after themselves
      val df10 = spark.read.parquet(s"$base/docs_chain_x10")
      (1 to 3).foreach { i =>
        val b = persisted()
        val t = time(chain(df10))
        println(f"synth_x10_run$i%-15s ${200000L}%8d $t%8.2f $b%12d ${persisted()}%11d")
      }
    }
    spark.stop()
  }
}
