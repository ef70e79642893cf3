package graft

object Bench {
  /** The checkout root this bench run measures: SPARK_GRAFT_REPO_ROOT if
    * set, else the nearest ancestor of the CWD holding a build.sbt, else
    * the CWD. The durable artifacts (bench_results.json, the src digest)
    * anchor HERE — a bench launched from a subdirectory must not silently
    * write the canonical record somewhere else or hash a foreign tree. (A
    * bisect worktree resolves to ITS OWN root — correct: its digest must
    * describe the code it ran.) */
  private val repoRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    sys.env.get("SPARK_GRAFT_REPO_ROOT")
        .map(Paths.get(_).toAbsolutePath).getOrElse {
      val cwd = Paths.get("").toAbsolutePath
      Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
        .find(p => Files.isRegularFile(p.resolve("build.sbt")))
        .getOrElse(cwd)
    }
  }

  /** SHA-256 over src/main's .scala files (sorted relative paths + bytes)
    * — the EXACT "is the benched code the same" question, immune to
    * artifact-only and test-only commits. Must mirror
    * scripts/bisect_bench.sh's src_digest computation byte-for-byte. */
  private def srcDigest(): Option[String] = try {
    import java.nio.file.Files
    val base = repoRoot.resolve("src").resolve("main")
    if (!Files.isDirectory(base)) return None
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // graft.table.Fs.walk closes the underlying stream (Files.walk holds
    // an OS fd until closed)
    // REPO-RELATIVE path strings ("src/main/..."), exactly what the
    // script hashes from its own checkout root — an absolute path here
    // would mismatch every bisect digest
    val files = graft.table.Fs.walk(base)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (repoRoot.relativize(p.toAbsolutePath).toString
        .replace('\\', '/'), p))
      .sortBy(_._1)
    files.foreach { case (rel, p) =>
      md.update(rel.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    Some(md.digest().map("%02x".format(_)).mkString)
  } catch { case _: Exception => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.start()
    // JIT/codegen warmup at the smallest SF so timed numbers reflect the
    // steady state, not first-query compilation
    // SPARK_GRAFT_ONLY=q1,q2 times just those queries — the iteration loop
    // for chasing one regression without paying the full sweep (warmup
    // respects it too, so a 10-query bisect never pays a 117-query warmup)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
      val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
      var failed = 0
      SparkEntry.queries
        .filter { case (n, _) => only.forall(_(n)) }
        .foreach { case (_, fn) =>
          try fn(spark, warmDir).count()
          catch { case _: Throwable => failed += 1 }
        }
      if (failed > 0) // silent skip would inflate the first timed query
        System.err.println(s"[bench] WARMUP incomplete: $failed queries failed on $warmDir")
    }
    // Multiple full sweeps, min per query: one transient OS/CPU stall (the
    // driver box is shared) can fake a multi-second "regression" in a
    // single-shot run. SPARK_GRAFT_BENCH_PASSES=1 restores single-shot.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    val sweeps = (1 to passes).map { _ =>
      sorted.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // output row count rides along: scaling analysis divides time by
        // it, so a growing-output operator (dedup_clusters' candidate
        // pairs grow with the near-dup population) is judged on
        // time-per-output-row — a real plan regression can't hide behind
        // "the output grew", and an output-constant query can't be
        // excused by it
        val rows = try fn(spark, sfDir).count()
                   catch { case _: Throwable => -1L }
        // a crashed query must not masquerade as a fast one: negative marker
        name -> (if (rows >= 0) (System.nanoTime() - t0) / 1e9 else -1.0,
          rows)
      }
    }
    val results = sorted.map { case (name, _) =>
      val ts = sweeps.map(_.toMap.apply(name)._1)
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val rowCounts = sorted.map { case (name, _) =>
      name -> sweeps.map(_.toMap.apply(name)._2).max
    }
    // the driver records only the LAST ~2000 chars of this line; order the
    // map so the lake_* queries (the like-for-like perf comparison) sit at
    // the end and survive truncation, and round to 2 dp (bench noise is
    // larger than 10 ms anyway) so as much of the rest fits as possible
    val qs = results
      .sortBy { case (k, _) => (if (k.startsWith("lake_")) 1 else 0, k) }
      .map { case (k, v) =>
        // Locale.ROOT: a comma-decimal default locale must not break the JSON
        "\"" + k + "\":" + (if (v < 0) "-1.0"
          else String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // box-state-immune comparison: scripts/bisect_bench.sh runs HEAD vs the
    // previous round's snapshot back-to-back on THIS box over a fixed
    // 10-query subset and writes bench_bisect.json; embedding it here puts
    // the code-vs-code ratio into the per-round BENCH artifact (recorded
    // tails compared across rounds have twice been confounded by box drift)
    val bisect = try {
      val p = repoRoot.resolve("bench_bisect.json")
      if (!java.nio.file.Files.isRegularFile(p)) ""
      else {
        // compact summary only — the full per-query detail stays in the
        // committed bench_bisect.json; the console line is tail-truncated
        // by log capture and the lake_* timings at the end must survive
        val n = graft.table.Json.mapper.readTree(java.nio.file.Files.readAllBytes(p))
        // staleness guard: a committed bisect from a PREVIOUS round must
        // not read as current. The SOURCE DIGEST the bisect recorded vs
        // the running tree's (immune to artifact-only commits like
        // committing the bisect json itself); no digest on either side is
        // undeterminable, flagged as unknown.
        val recorded = n.path("src_digest").asText("")
        val stale = srcDigest() match {
          case Some(cur) if recorded.nonEmpty => (recorded != cur).toString
          case _ => "null"
        }
        // compact scaling summary (scripts/scaling_bench.sh): factor + the
        // worst per-query time ratio — the super-linear-plan detector; full
        // per-query detail stays in the committed bench_bisect.json
        val sc = n.path("scaling")
        val scaling =
          if (sc.isMissingNode) ""
          else s""""scaling":{"factor":${sc.path("factor").asText("0")},""" +
            s""""max_ratio":${sc.path("max_ratio").asText("null")},""" +
            s""""max_query":"${sc.path("max_query").asText("")}"},"""
        s""""bisect":{"baseline_commit":"${n.path("baseline_commit").asText}",""" +
          s""""head_commit":"${n.path("head_commit").asText}",""" +
          s""""stale":$stale,""" +
          s""""ratio":${n.path("ratio").asText("null")},""" +
          s""""head_total_sec":${n.path("head_total_sec").asText("0")},""" +
          s""""baseline_total_sec":${n.path("baseline_total_sec").asText("0")}},""" +
          scaling
      }
    } catch { case _: Exception => "" }
    // output rows per query, BEFORE the queries map (the console line is
    // tail-truncated; the timings must stay at the end)
    val rs = rowCounts
      .sortBy { case (k, _) => (if (k.startsWith("lake_")) 1 else 0, k) }
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$bisect"rows":$rs,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // self-reported machine-readable artifact: the console line gets tail-
    // truncated by log capture, so round-over-round comparison needs a file
    // that holds EVERY query timing regardless of console limits. Written
    // to target/ (scratch) always, and to the repo root (committable —
    // `bench_results.json` is the durable full-sweep record; the driver's
    // log-tail artifact lost the first ~44 queries in round 13) ONLY for
    // full sweeps: subset runs (the bisect/scaling scripts' SPARK_GRAFT_ONLY
    // invocations) must not overwrite the canonical all-queries line
    // both anchored at the resolved repo root (a bench launched from any
    // other directory must not scatter the canonical artifact)
    val fullSweep = sys.env.get("SPARK_GRAFT_ONLY").forall(_.trim.isEmpty)
    for (out <- Seq(Some(repoRoot.resolve("target").resolve("bench.json")),
        if (fullSweep) Some(repoRoot.resolve("bench_results.json"))
        else None).flatten) {
      try {
        Option(out.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $out: $e")
      }
    }
    spark.stop()
  }
}
