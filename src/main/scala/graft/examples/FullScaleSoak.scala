package graft.examples

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Full-surface scale soak: builds a 10× key-shifted copy of EVERY harness
  * table and times the COMPLETE `SparkEntry.queries` registry (all 188 keys,
  * streaming replays included) on both the base dir and the 10× dir,
  * recording per-key ratios: disjoint key shifts so join fan-outs stay
  * honest; warm both dirs first so JIT / codegen / one-time layout costs
  * stay out of the ratio; `.count()` like `graft.Bench` so numbers are
  * comparable to the per-round bench — the "would this plan survive a 10×
  * scale-up" question answered by measurement instead of argument, key by
  * key. It began as a 17-key check (examples/ScaleCheck at commit
  * 2b09aa5); `FullScaleSoak <src> <big> <json> 10 <keys...>` re-runs those
  * keys, and their per-key analysis is in docs/SCALE.md's notes.
  *
  * Id-shift choices:
  *   - doc_id / vec_id shift by 10 000 per copy, NOT 1 000 000: the
  *     planted-twin guards (RecallMatrices.guardIds, x139) fail loudly when
  *     any base id reaches the 1 000 000/1 000 003 twin offsets, and base
  *     sf0.1 ids top out at 4 999/1 999 — so 10 copies stay below 100 000,
  *     disjoint between copies yet far under the offsets.
  *   - orderkey/custkey/event/user shift by 10⁷/10⁶/10⁸/10⁶ (dims — region,
  *     nation, supplier, part — copy verbatim: dimensions don't grow with
  *     fact volume; every dim key just gets 10× hotter, the honest regime).
  *
  * Expected super-linear keys (documented, not defects): the synthetic copy
  * hands every document 9 exact twins, so TRUE near-dup/containment
  * workload grows ~quadratically in the copy factor (x08/x86/x109 analysis
  * in docs/SCALE.md); q45/q46 are the deliberate brute-force
  * baselines whose all-pairs work is quadratic by construction
  * (SparkEntry.scala:65-68 — AnnIvf.x18Raw/x09 are the scale paths); the
  * recall matrices (x110–x112) run those chains end-to-end. Everything
  * else should track row volume modulo fixed job overhead.
  *
  * Usage: `runMain graft.examples.FullScaleSoak [srcDir] [bigDir] [jsonOut]
  * [copies] [key...]` — pass an existing bigDir with its `_SOAK_BUILT`
  * marker to skip the build. `copies` (default 10) scales the synthetic
  * corpus; explicit key names (default: whole registry) restrict the timed
  * set — the round-9 100× soak runs `copies=100` over the 26 keys the 10×
  * soak classified linear-ish, answering "does any of them flip
  * super-linear when the graph densifies 100×" with measurement. At
  * copies=100 the doc/vec shift tops out at 99·10 000 + 4 999 = 994 999,
  * still under the 1 000 000 planted-twin guard offset (asserted below).
  * Writes one JSON object per key to `jsonOut` (default
  * `docs/scale_soak.json`), sorted, diff-friendly.
  */
object FullScaleSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local(32, 32)
    spark.sparkContext.setLogLevel("WARN")
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10_full"
    val jsonOut = if (args.length > 2) args(2) else "/root/repo/docs/scale_soak.json"
    val copies = if (args.length > 3) args(3).toInt else 10
    val onlyKeys = args.drop(4).toSet
    require(copies * 10000L < 1000000L + 10000L,
      s"doc/vec shift at $copies copies would cross the planted-twin guard offset")
    // The marker RECORDS the copy factor the corpus was built at: invoking
    // with copies=100 against a bigDir built at 10x must not silently reuse
    // the 10x corpus under a 100x label (ADVICE r9) — mismatch is a hard
    // error telling the caller to pick a fresh bigDir (or delete the stale
    // one); a bare legacy marker (no number) is treated the same way.
    val marker = java.nio.file.Paths.get(out, "_SOAK_BUILT")

    if (java.nio.file.Files.exists(marker)) {
      val built = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
      require(built == copies.toString,
        s"bigDir $out was built at copies=${if (built.isEmpty) "<unrecorded>" else built} " +
        s"but this run asks for copies=$copies — use a fresh bigDir or delete it")
    }
    if (!java.nio.file.Files.exists(marker)) {
      val O = 10000000L; val C = 1000000L; val E = 100000000L
      val D = 10000L // doc/vec shift: disjoint copies, below the twin guards
      def rep(df: org.apache.spark.sql.DataFrame, shifts: Map[String, Long]) =
        (0 until copies).map { i =>
          shifts.foldLeft(df) { case (d, (c, base)) =>
            d.withColumn(c, col(c) + lit(i * base)) }
        }.reduce(_ unionByName _)
      rep(Tables.lineitem(spark, src), Map("l_orderkey" -> O))
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      rep(Tables.orders(spark, src), Map("o_orderkey" -> O, "o_custkey" -> C))
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      rep(Tables.customer(spark, src), Map("c_custkey" -> C))
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      rep(Tables.documents(spark, src), Map("doc_id" -> D))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      rep(Tables.embeddings(spark, src), Map("vec_id" -> D))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      for (dim <- Seq("nation", "region", "supplier", "part"))
        spark.read.parquet(s"$src/$dim.parquet")
          .write.mode("overwrite").parquet(s"$out/$dim.parquet")
      // events: duplicate the RAW ns-long file so Tables.events still
      // normalizes
      val evRaw = spark.read.parquet(s"$src/events.parquet")
      (0 until copies).map(i => evRaw
          .withColumn("event_id", col("event_id") + lit(i * E))
          .withColumn("user_id", col("user_id") + lit(i * C)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      java.nio.file.Files.write(marker, copies.toString.getBytes("UTF-8"))
      println(s"[soak] built ${copies}x copy at $out")
    } else println(s"[soak] reusing existing ${copies}x copy at $out")

    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(k => onlyKeys.isEmpty || onlyKeys.contains(k))
    // warm pass over BOTH dirs: steady-state JIT/codegen, and one-time
    // layout costs (x113's bucketed ingest) paid outside the timed runs
    for (k <- keys; dir <- Seq(src, out)) {
      println(s"[soak] warming $k on $dir")
      try graft.SparkEntry.queries(k)(spark, dir).count()
      catch { case e: Throwable =>
        println(s"[soak] WARM-FAIL $k on $dir: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
    }

    // Keys whose EMPTY result on the >=97-copy twin corpus is the operator's
    // documented CORRECT behavior, not a broken measurement (the strict
    // empty-at-scale guard below still applies to every other key):
    //   - x100: the decontamination stage's bench slice is doc_id % 97 == 0
    //     and the copy shift is 10000 ≡ 9 (mod 97) with gcd(9,97)=1, so at
    //     >=97 copies the twin ids of EVERY text cover all residues mod 97 —
    //     every text gains a twin inside the bench slice, and x21's rule then
    //     correctly drops the whole corpus as benchmark-contaminated.
    //   - x194/x196/x224: every fingerprint's df is >= copies (each doc has
    //     copies-1 exact twins) > the df-64 hot-fp cap, so the boilerplate
    //     guard classifies ALL fps as hot and drops them before pairing —
    //     exactly the production behavior for a corpus that is 99% exact
    //     copies (x224's cap is mirrored in its DuckDB oracle).
    val expectedEmpty: Set[String] =
      if (copies < 97) Set.empty
      else Set("x100_curation_pipeline", "x194_neardup_clusters",
               "x196_token_cosine_pairs", "x224_jaccard_portable")

    case class R(key: String, base: Double, big: Double, err: String,
                 note: String = "")
    val rows = keys.map { k =>
      def once(dir: String): Either[String, (Double, Long)] = {
        val t0 = System.nanoTime()
        try { val n = graft.SparkEntry.queries(k)(spark, dir).count()
              Right(((System.nanoTime() - t0) / 1e9, n)) }
        catch { case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
      }
      (once(src), once(out)) match {
        // a big-side run that returns ZERO rows where the base returned some
        // is a silently-broken measurement, not a fast one (the round-7 soak
        // recorded 0.1x streaming "ratios" this way: the staged replay
        // ingested no files) — fail the key instead of flattering it, unless
        // the empty is the operator's documented correct answer (above)
        case (Right((b, nb)), Right((g, ng))) if nb > 0 && ng == 0 =>
          if (expectedEmpty.contains(k)) {
            println(f"[soak] $k%-28s base=$b%6.2f s  big=$g%6.2f s  EMPTY by design at ${copies}x (see scaladoc)")
            R(k, b, g, "", s"empty at ${copies}x is the documented correct answer (decontamination / hot-fp cap covers the twin corpus)")
          } else {
            println(s"[soak] $k EMPTY at ${copies}x ($nb base rows -> 0)")
            R(k, b, g, s"${copies}x returned 0 rows (base $nb)")
          }
        case (Right((b, _)), Right((g, _))) =>
          println(f"[soak] $k%-28s base=$b%6.2f s  big=$g%6.2f s  ratio=${g / b}%5.1f")
          R(k, b, g, "")
        case (b, g) =>
          val err = Seq(b.left.toOption.map("base: " + _),
                        g.left.toOption.map(s"${copies}x: " + _)).flatten.mkString("; ")
          println(s"[soak] $k FAILED — $err")
          R(k, b.map(_._1).getOrElse(-1.0), g.map(_._1).getOrElse(-1.0), err)
      }
    }
    val body = rows.map { r =>
      val e = if (r.err.isEmpty) "" else s""", "error": "${r.err.replace("\"", "'")}""""
      val n = if (r.note.isEmpty) "" else s""", "note": "${r.note.replace("\"", "'")}""""
      f"""    "${r.key}": {"base_s": ${r.base}%.3f, "x10_s": ${r.big}%.3f, "ratio": ${
        if (r.base > 0 && r.big > 0) f"${r.big / r.base}%.2f" else "null"}$e$n}"""
    }.mkString(
      s"""{\n  "src": "$src",\n  "copies": $copies,\n  "keys": {\n""",
      ",\n", "\n  }\n}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(jsonOut), body.getBytes("UTF-8"))
    val failed = rows.filter(_.err.nonEmpty)
    println(s"[soak] done: ${rows.size} keys, ${failed.size} failures -> $jsonOut")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
