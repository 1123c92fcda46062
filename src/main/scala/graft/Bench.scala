package graft

/** Benchmark harness: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line of per-query seconds.
  *
  * ## JVM isolation (the round-2 stabilizer)
  *
  * Running ~65 heterogeneous queries in ONE JVM is the single biggest
  * source of run-to-run variance we measured (totals 33 s ↔ 1155 s for
  * identical code): every query adds generated classes, shared Spark
  * hot paths (UnsafeRow access, comparators, Decimal math) go
  * megamorphic, inline caches churn (ICBufferFull safepoint storms),
  * and HotSpot deoptimizes — sometimes permanently — methods that
  * EVERY later query needs. Session-config mitigation
  * (methodSplitThreshold, AQE off, broadcast hints) took the good case
  * from ~600 s to ~33 s warm, but the lottery remained: one unlucky
  * early query still poisoned the rest of the run.
  *
  * So Bench now runs each query FAMILY in its own forked child JVM
  * (same classpath + JVM flags as the parent, which sbt forked with
  * build.sbt's javaOptions). A family is small enough (≤ ~20 plans)
  * that its generated-class population stays well inside the JIT's
  * comfort zone, and a pathology in one family physically cannot slow
  * another. The cost is one SparkSession start per family (~10 s,
  * excluded from per-query times, same as the single-JVM mode never
  * counted session init). `SPARK_GRAFT_ISOLATE=off` restores the
  * single-JVM mode for comparison.
  *
  * This mirrors the real deployment shape, where it's free: on a
  * cluster each spark-submit is its own driver JVM and executors are
  * recycled per app — nobody runs 65 unrelated query families through
  * one driver's code cache back to back.
  *
  * For dev timing of a few queries, `runMain graft.Bench <names...>`
  * runs them in this JVM and logs every draw to stderr;
  * `SPARK_GRAFT_REPEAT` sets the number of draws.
  */
object Bench {

  /** Family = leading alpha prefix + (for q/d) a coarse number band,
    * so each child JVM compiles a bounded, related set of plans.
    *
    * Families must stay SMALL where the plans are generated-code-heavy:
    * round 3 measured the combined d+s family (12 explode/band-join
    * plans in one JVM) running d05 at 34 s and d06 at 142 s versus
    * 1.2 s / 13 s in a fresh JVM — the same inline-cache/codegen churn
    * the isolation exists to prevent, re-created by an oversized
    * family. Dedup and similarity now split into three ≤5-plan groups.
    */
  /** Generated-code-heavy or iterative plans whose timings measured
    * 2-5x run-to-run variance WITHIN a small family (round 3: c03
    * 12.9 s ↔ 30.2 s, d07 3.6 s ↔ 17.5 s, t07 0.6 s fresh ↔ 11 s
    * in-family — identical code, same family shape, different draw of
    * the JIT/inline-cache lottery). Each benches in its own child JVM
    * with its own sf0.001 warmup: the only JVM state at measure time
    * is the query's own, which is the one composition that
    * reproduces. JVM start cost is excluded from per-query times
    * either way. */
  private[graft] val Soloists = Set(
    "c03_dup_clusters", "c08_decontaminate", "c11_pagerank",
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d06_minhash_recall", "d07_simhash_recall",
    "s02_ann_lsh_topk", "t06_ngram_topk", "t07_token_entropy",
    // round-4 additions, same evidence pattern: in-family 16.3/10.5/
    // 6.7 s vs fresh-JVM solo 8.2/2.0/2.4 s (c12 runs the full
    // d04+contraction pipeline like c03; d10/t08 are explode-heavy)
    "c12_cluster_canonical", "d10_repeated_spans", "t08_bigram_logprob",
    // round-6: q51 drew 5.17 s as the 25-plan q_c family's last query
    // vs 1.43-1.50 s across four fresh-JVM solo draws (3.5×) — the
    // double-correlation plan (two self-joins + lazy checkpoint) is
    // codegen-heavy enough to inherit the family churn
    "q51_sole_blame_supplier",
    // round-8: d09 drew 12.40 s in dedup_b (sharing with d08's banded
    // join plans) vs 2.26-2.37 s across three fresh-JVM solo draws
    // (5.4×) — it re-runs BOTH the d05 exact and d08 LSH pipelines,
    // the heaviest plan pair in the family
    "d09_embedding_lsh_recall",
    // round-9: s07 drew 3.51 s in the new sim_b family vs 1.76-2.11 s
    // fresh-JVM solo (2.0×) — per-subspace codebook training + ADC +
    // re-rank is the sim side's codegen-heaviest plan, the q51 class
    "s07_pq_topk",
    // round-10 session 2 (gen-sf1 full-surface sweep): s13 drew
    // 72.7 s in-family vs 6.5-7.0 s fresh-JVM solo (11×) — it re-runs
    // the WHOLE s12 graph pipeline plus a 50-probe exact scan, the
    // d09 two-pipelines class; d16 drew 34.9 s in dedup_b vs
    // 2.4-2.6 s solo (14×) — it runs the full d04 gram pipeline like
    // d04/d10/c12, which are all soloists for the same reason
    "s13_knn_graph_recall", "d16_containment",
    // round-11: soloists AT BIRTH, no sweep required — every query
    // whose builder re-invokes another registered query's builder
    // re-runs that whole pipeline inside its own timing, the exact
    // composite shape the d09/s13/d16 sweeps kept catching after the
    // fact (5.4×/11×/14× in-family vs solo). BenchSoloistSpec scans
    // the source for nested queries("...") calls and goes red if a
    // future composite is packed into a family. s04/s05/s08/s10 are
    // the remaining recall gates of that construction (each re-runs
    // s01 PLUS its ANN pipeline, the d06/d07/d09 class).
    "s04_lsh_recall", "s05_ivf_recall", "s08_pq_recall", "s10_pca_recall",
    // d17 is the whole-corpus 8-gram explode — the d04/d10/d16
    // gram-pipeline class, every member of which the sweeps moved to
    // a soloist after the fact (14× in-family for d16); seated here
    // at birth like the s04 class above
    "d17_novelty_score",
    // round-11 closing sweep (180-query gen-sf1): t15 drew 39.4 s in
    // text_b vs 2.15-2.56 s fresh-JVM solo (18×) — the bigram-explode
    // t06/t08 class finally hit by the family lottery; d13 drew
    // 64.7 s in dedup_b vs 6.9 s solo (9.4×) — it runs IVF-cell
    // assignment plus within-cell pair scoring, the s12-class heavy
    // plan pair
    "t15_repetition_signals", "d13_semantic_dedup",
    // round-12: s17 is a queries("...")-composite at birth (re-runs
    // exact s01 PLUS the whole s16 incremental pipeline — the
    // s04/s05 recall-gate class, enforced by BenchSoloistSpec); d18
    // is a whole-corpus gram-explode + md5-per-shingle pipeline — the
    // d04/d10/t15 explode class, seated at birth per the r10 rule;
    // d19 is the same class (token explode + md5 + 64-bit-vote agg)
    "s17_incremental_recall", "d18_minhash_oracle", "d19_simhash_oracle",
    // round-12 closing sweep (188-query gen-sf1): s12 drew 67.6 s
    // in-family vs 10.0 s fresh-JVM solo best-of-3 (6.8×) — the
    // IVF-assignment + within-cell kNN plan pair that already made
    // d13 a soloist; d12 drew 38.2 s in dedup_b vs 1.49 s solo (26×)
    // — it shingles+signs a shard AND reads the persisted index, the
    // composite shape every sweep victim shares
    "s12_knn_graph", "d12_incremental_dedup",
    // round-13: s18 fuses the WHOLE c15 BM25 pipeline (unigram
    // explode + postings) with an s01-class dense scan in one query —
    // the d16 composite shape, seated at birth per the r10 rule;
    // m08 is a per-BYTE-position explode + md5-per-window pipeline —
    // heavier than the whole rest of the m family combined, the
    // d04/t06/t15 explode class, seated at birth per the r10 rule
    "s18_hybrid_rrf", "m08_cdc_chunking",
    // round-14: s21 re-runs exact s01 inside its recall gate — the
    // s17/s04 queries("...")-composite class, seated at birth per the
    // r10 rule (BenchSoloistSpec enforces); m09 runs the whole m08
    // per-byte-position chunker AND lands two SnapshotLog tables
    // inside its timing — the m08 explode class plus write-path
    // weight, seated at birth
    "s21_ann_rebalance", "m09_chunk_store",
    // round-14 optimization: with the t17 BPE-result memo removed
    // (every invocation must compute from the parquet inputs), t10
    // and t17 each run the full 10-round iterative trainer — 10
    // argmax jobs plus a 60-replace rewrite chain of generated code
    // per draw. Packed into text_b that plan population crushed the
    // family (closing sweep: t10 drew 5.52 s min / 22.98 s max
    // in-family and t11 — which gained no code — went 2.7 → 5.4 s
    // beside it; solo best-of-3 measured t10 2.40 s, t17 2.11 s).
    // Both are queries("...")-composites in spirit — t10 runs the
    // WHOLE t17 training inside — the r10 seat-at-birth class.
    "t10_tokenizer_apply", "t17_bpe_trainer")

  private def family(name: String): String = {
    if (Soloists(name)) return "solo_" + name
    val prefix = name.takeWhile(_.isLetter)
    if (prefix == "q") {
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 13) "q_a"
      else if (num.nonEmpty && num.toInt <= 26) "q_b"
      else "q_c"
    } else if (prefix == "d") {
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 4) "dedup_a" else "dedup_b"
    } else if (prefix == "s") {
      // sim grew past the ≤5-plan stability bar with s07-s10 (PQ, PCA)
      // and again with s11-s15 (filtered/knn/radius/maxsim): three-way
      // split like corpus/text (s07/s13 never reach here — Soloists)
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 5) "sim_a"
      else if (num.nonEmpty && num.toInt <= 10) "sim_b" else "sim_c"
    }
    else if (prefix == "c") {
      // corpus grew past the ≤5-plan stability bar (round-3 finding
      // above): split like dedup
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 5) "corpus_a" else "corpus_b"
    }
    else if (prefix == "st" || prefix == "m") "stream_media"
    else if (prefix == "t") {
      // t06 benches alone — it's in Soloists (sharing a child with it
      // cost t07 0.6 s → 11.5 s of inline-cache churn), so it never
      // reaches this split.
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 4) "text_a" else "text_b"
    }
    // a+i+u outgrew the one-family bar with i13/i14/u04 (23 plans —
    // the r3 ≤~20-plan stability finding), and the i family alone hit
    // 17 with the snapshot-log ops: classic ingest/formats (i01–i08)
    // bench apart from the lake layer (i09+), sketches+upserts (a, u)
    // apart from both
    else if (prefix == "i") {
      val num = name.drop(1).takeWhile(_.isDigit)
      if (num.nonEmpty && num.toInt <= 8) "ingest_io" else "lake_ops"
    }
    else "agg_upsert" // a, u
  }

  def main(args: Array[String]): Unit = {
    val isolate = sys.env.getOrElse("SPARK_GRAFT_ISOLATE", "auto")
    if (args.headOption.contains("--child")) {
      // child: time the named queries in this JVM, print one JSON line
      // (full names, full precision — the parent parses this)
      println(runSuite(args.drop(1).toIndexedSeq, warmup = true))
    } else {
      val line =
        if (isolate == "off" || args.nonEmpty) runSuite(args.toIndexedSeq, warmup = true)
        else runIsolated()
      // Default artifact path is cwd-relative, and dev SUBSET runs (args
      // given, or a SPARK_GRAFT_ONLY restriction) get a distinct default
      // so a partial run never clobbers the last full-suite artifact.
      val fullRun = args.isEmpty && sys.env.get("SPARK_GRAFT_ONLY").isEmpty
      val defaultOut =
        if (fullRun) "BENCH_FULL.json" else "BENCH_SUBSET.json"
      val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
      try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: $e") }
      // the same full line is the process's final stdout line
      println(line)
    }
  }

  /** Fork one child JVM per query family, merge their JSON lines. */
  private def runIsolated(): String = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    // SPARK_GRAFT_ONLY=name1,name2 restricts the isolated run to a
    // subset (dev tool for scale/AQE comparisons) while keeping the
    // per-family child-JVM isolation; unset = the full surface.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val families = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .groupBy(family)
    val perQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val spread = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val failed = scala.collection.mutable.ListBuffer[String]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((fam, names) <- families.toSeq.sortBy(_._1)) {
      System.err.println(s"[bench] --- family $fam (${names.size} queries) ---")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench", "--child") ++ names
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes, "UTF-8")
      val rc = p.waitFor()
      val line = out.linesIterator.toSeq.lastOption.getOrElse("")
      if (rc != 0 || !line.startsWith("{")) {
        System.err.println(s"[bench] family $fam FAILED rc=$rc: ${out.take(500)}")
        failed ++= names
        names.foreach(n => errors(n) = s"family $fam child exited rc=$rc")
      } else {
        // extract {"name":seconds} pairs and the failed list
        val q = """"([a-z0-9_]+)":([0-9.eE+-]+)""".r
        val qsPart = line.substring(line.indexOf("\"queries\":"))
        for (m <- q.findAllMatchIn(qsPart.takeWhile(_ != ']')))
          if (names.contains(m.group(1))) perQuery(m.group(1)) = m.group(2).toDouble
        val fPart = line.substring(line.indexOf("\"failed\":"))
        val fq = """"([a-z0-9_]+)"""".r
        failed ++= fq.findAllMatchIn(fPart.substring(0, fPart.indexOf(']')))
          .map(_.group(1)).filterNot(_ == "failed").filter(names.contains)
        // merge the child's per-query error messages (values are
        // JSON-escaped by the child's json(); unescape so the parent's
        // re-emission doesn't double-escape). The scan is bounded at
        // the errors object's own closing brace (string-aware), so a
        // future envelope field placed after it — even one whose key
        // collides with a query name — can never leak into the merge.
        val eIdx = line.indexOf("\"errors\":")
        if (eIdx >= 0) {
          val eEnd = objectEnd(line, eIdx + 9)
          val er = """"([a-z0-9_]+)":"((?:[^"\\]|\\.)*)"""".r
          for (m <- er.findAllMatchIn(line.substring(eIdx + 9, eEnd))
               if names.contains(m.group(1)))
            errors(m.group(1)) =
              m.group(2).replace("\\\"", "\"").replace("\\\\", "\\")
        }
        // merge the child's per-query draw spreads
        val spIdx = line.indexOf("\"spread\":")
        if (spIdx >= 0) {
          val spEnd = objectEnd(line, spIdx + 9)
          val sp = """"([a-z0-9_]+)":\[([0-9.eE+-]+),([0-9.eE+-]+)\]""".r
          for (m <- sp.findAllMatchIn(line.substring(spIdx + 9, spEnd))
               if names.contains(m.group(1)))
            spread(m.group(1)) = (m.group(2).toDouble, m.group(3).toDouble)
        }
      }
    }
    json(perQuery.toSeq.sortBy(_._1), failed.toList.distinct.sorted,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
      errors.toMap, spread.toMap)
  }

  /** The original single-JVM suite: time each named query (all if
    * empty) with `count()`, return the JSON line. */
  private def runSuite(args: Seq[String], warmup: Boolean): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()

    // Warm the JVM/codegen once on the smallest SF so the first timed
    // query doesn't also pay first-call framework classloading. ONE
    // query only — and it's the suite's OWN first query at sf0.001,
    // so the codegen/JIT paths warmed are the ones the family
    // actually uses (warming with the unrelated q01 left the first
    // family query paying ~2 s of its own cold compile). Warming MORE
    // than one query was tried twice and regressed both times (full
    // sweep: 428 s; dedup trio: 413 s vs 137 s control) — every extra
    // pre-warmed plan's generated classes deepen inline-cache churn,
    // and the damage lands on UNRELATED queries mid-suite.
    if (warmup && sys.env.getOrElse("SPARK_GRAFT_WARMUP", "true") == "true") {
      val warmName = args.headOption.filter(SparkEntry.queries.contains)
      spark.sparkContext.setJobDescription(
        s"warmup:${warmName.getOrElse("entry")}") // label for eventlog attribution
      try warmName.map(n => SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
        .getOrElse(SparkEntry.entry(spark)).count()
      catch { case _: Throwable => () }
      finally spark.sparkContext.setJobDescription(null)
    }

    // honor SPARK_GRAFT_ONLY here too: with SPARK_GRAFT_ISOLATE=off the
    // parent calls runSuite directly (no runIsolated filter), and a
    // restriction the user set must not silently run the full surface
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = (if (args.isEmpty) SparkEntry.queries.keys.toSeq
      else SparkEntry.queries.keys.toSeq.filter(args.toSet))
      .filter(n => only.forall(_.contains(n))).sorted
    // Repeat-until-two-draws-agree (the round-9 de-noiser): identical
    // code measured 116.6–182.6 s across five closing round-8 runs —
    // ambient load and the residual JIT lottery, not plans, set that
    // spread. Per query: run, run again; if the two draws agree within
    // 10% take the min, else take one tie-breaker draw and the min of
    // three. The min is the right statistic here — noise in this
    // environment is strictly additive (throttled IO, safepoint storms,
    // unlucky inline caches), so the fastest draw is the closest to the
    // plan's true cost. SPARK_GRAFT_REPEAT=1 restores single-draw mode
    // (used by the scale-growth sweeps, where run-count × SF is the
    // budget and relative growth, not absolute seconds, is the signal).
    // floored at 1: REPEAT=0 plausibly means "no repeats", and an
    // empty draws buffer would crash the whole run at draws.min
    val maxDraws = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt)
    var failed = List.empty[String]
    var errors = Map.empty[String, String]
    var spread = Map.empty[String, (Double, Double)]
    val results = names.map { name =>
      // Stall watchdog: the residual JIT lottery (BASELINE.md) makes a
      // query nondeterministically run ~10-100× slow, too rarely to
      // catch interactively (< 1-in-10 after the round-3 family split
      // + self-warmup). When it fires, dump the busy executor stacks
      // so the run itself records WHERE the time went.
      val watchdog = new Thread(() => {
        try {
          while (true) {
            Thread.sleep(60000)
            System.err.println(s"[bench][watchdog] $name still running — busy stacks:")
            import scala.jdk.CollectionConverters._
            for ((t, st) <- Thread.getAllStackTraces.asScala
                 if t.getName.startsWith("Executor task") && st.nonEmpty)
              System.err.println(s"  ${t.getName} ${t.getState}\n" +
                st.take(12).map(f => s"    at $f").mkString("\n"))
          }
        } catch { case _: InterruptedException => () }
      })
      watchdog.setDaemon(true)
      watchdog.start()
      // Label every job with its query (guide §1.5): eventlog-based
      // attribution (job counts per query, the r15 evidence currency)
      // otherwise has to bin jobs by timeline gaps. Set OUTSIDE the
      // timed region and thread-local — zero effect on the timed
      // action, the draw protocol, or single-threaded execution order.
      spark.sparkContext.setJobDescription(name)
      val draws = scala.collection.mutable.ListBuffer[Double]()
      try {
        var done = false
        while (!done && draws.size < maxDraws) {
          val t0 = System.nanoTime()
          try { SparkEntry.queries(name)(spark, sfDir).count() }
          catch { case e: Throwable =>
            failed ::= name
            // keep the actual failure diagnosable from the artifact
            // alone (stderr is truncated by the driver's capture);
            // class name covers null-message throwables like NPE
            errors += name -> (e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").take(400))
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            done = true // failures are not retried — a red query must
                        // stay red in the artifact, not flake green
          }
          draws += (System.nanoTime() - t0) / 1e9
          // two draws within 10% of the faster one = agreement
          if (!done && draws.size >= 2) {
            val sorted = draws.sorted
            done = maxDraws <= draws.size ||
              (sorted(1) - sorted(0)) <= 0.1 * sorted(0)
          } else if (maxDraws <= 1) done = true
        }
      } finally {
        watchdog.interrupt()
        spark.sparkContext.setJobDescription(null)
      }
      val dt = draws.min
      spread += name -> (dt, draws.max)
      System.err.println(f"[bench] $name%-24s $dt%8.2f s  (${draws.size} draws: ${draws.map(d => f"$d%.2f").mkString(", ")})")
      name -> dt
    }
    spark.stop()
    json(results, failed.sorted, sfDir, errors, spread)
  }

  /** Index just past the matching '}' of the JSON object whose opening
    * brace is at `s(start)`, skipping string literals (with escapes) so
    * braces inside error-message values cannot derail the match.
    * Returns `s.length` if unbalanced — callers then scan to the end,
    * which is the old (pre-bounded) behavior. */
  private[graft] def objectEnd(s: String, start: Int): Int = {
    var i = start; var depth = 0; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) return i + 1
        case _   => ()
      }
      i += 1
    }
    s.length
  }

  /** Minimal JSON string escape for error messages (quotes, backslash,
    * control chars → space). Keys are query names and never need it. */
  private def esc(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < ' '  => " "
    case c             => c.toString
  }

  private def json(results: Seq[(String, Double)], failed: Seq[String],
                   sfDir: String, errors: Map[String, String],
                   spread: Map[String, (Double, Double)] = Map.empty): String = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // placed AFTER "failed": runIsolated locates the failed array by its
    // first ']', which must not be preceded by message text
    val ej = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // [min,max] of each query's draws — AFTER failed/errors so the
    // positional parsers (first-']' failed scan) stay valid
    val sj = results.flatMap { case (k, _) => spread.get(k).map(s =>
        "\"" + k + "\":[" + s._1 + "," + s._2 + "]") }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fj,"errors":$ej,"spread":$sj,"sf":"$sfDir"}"""
  }
}
