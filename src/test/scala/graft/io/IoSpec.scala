package graft.io

import graft.TestSpark
import graft.core.{FeatureRow, Mention, Triple}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class IoSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val rows = Seq(
    FeatureRow("D.s0", "Warfarin", 0, 7, "B-drug",
      Vector("form=Warfarin", "suf3=rin", "BoS", "formNext=.", "suf3Next=.")),
    FeatureRow("D.s0", ".", 8, 8, "O",
      Vector("form=.", "suf3=.", "formPrev=Warfarin", "suf3Prev=rin", "EoS"))
  )

  test("feat file: exact reference TSV bytes incl. blank-line framing") {
    val expect =
      "D.s0\tWarfarin\t0\t7\tB-drug\tform=Warfarin\tsuf3=rin\tBoS\tformNext=.\tsuf3Next=.\n" +
        "D.s0\t.\t8\t8\tO\tform=.\tsuf3=.\tformPrev=Warfarin\tsuf3Prev=rin\tEoS\n" +
        "\n"
    assert(FeatFile.formatSentences(Seq(rows)) == expect)
  }

  test("feat file: parse is the inverse of format") {
    rows.foreach(r => assert(FeatFile.parseRow(FeatFile.formatRow(r)) == r))
  }

  test("feat file: distributed read round-trips") {
    val dir = Files.createTempDirectory("feat").toString
    val path = s"$dir/corpus.feat"
    Files.writeString(java.nio.file.Paths.get(path), FeatFile.formatSentences(Seq(rows)))
    val back = FeatFile.read(spark, path).collect().sortBy(_.start)
    assert(back.toSeq == rows)
  }

  test("pred file: format/parse round-trip incl. -1 offsets and '|' in text") {
    val ms = Seq(
      Mention("D.s0", 0, 7, "Warfarin", "drug"),
      Mention("D.s1", -1, 0, "``", "drug_n"),
      Mention("D.s2", 3, 9, "a|b", "group")
    )
    ms.foreach { m =>
      assert(PredFile.parseMention(PredFile.formatLine(m)) == m)
      val (key, cls) = PredFile.parseLine(PredFile.formatLine(m))
      assert(cls == m.etype)
      assert(key == s"${m.sid}|${m.start}-${m.end}|${m.text}")
    }
  }

  test("resume: partial write + resume completes; re-resume is a no-op") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(
      repos.flatMap(r => (1 to 5).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r)))
    )
    // first run: only repo-a and repo-b "arrive"
    val c1 = Resume.writeResumable(spark, trips("repo-a", "repo-b"), table)
    assert(c1.map(_.repo) == Seq("repo-a", "repo-b"))
    assert(c1.forall(_.rows == 5))
    // resume with the full input: only repo-c is new work
    val c2 = Resume.writeResumable(spark, trips("repo-a", "repo-b", "repo-c"), table)
    assert(c2.map(_.repo) == Seq("repo-c"))
    // a third resume does nothing
    assert(Resume.writeResumable(spark, trips("repo-a", "repo-b", "repo-c"), table).isEmpty)
    // the table reads back complete and correct
    val back = Resume.read(spark, table)
    assert(back.count() == 15)
    assert(back.map(_.repo).distinct().collect().sorted.toSeq == Seq("repo-a", "repo-b", "repo-c"))
  }

  test("resume: repo ids with reserved path characters round-trip") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val weird = Seq("org/name", "a:b=c", "pct%20enc")
    val trips = spark.createDataset(
      weird.flatMap(r => (1 to 2).map(i => Triple(s"d$i", "int", "o", s"$r.s$i", "e1", "e2", r))))
    val c = Resume.writeResumable(spark, trips, table)
    assert(c.map(_.repo).sorted == weird.sorted)
    assert(Resume.committedRepos(table) == weird.toSet)
    val back = Resume.read(spark, table)
    assert(back.count() == 6)
    assert(back.map(_.repo).distinct().collect().sorted.toSeq == weird.sorted)
    // re-resume is still a no-op with the escaped names
    assert(Resume.writeResumable(spark, trips, table).isEmpty)
  }

  test("resume: manifest BODY is valid JSON for repo ids with quotes/backslashes/control chars") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val weird = Seq("""quo"ted""", """back\slash""", "tab\tchar")
    val trips = spark.createDataset(
      weird.flatMap(r => (1 to 2).map(i => Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", r))))
    val commits = Resume.writeResumable(spark, trips, table)
    assert(commits.map(_.repo).sorted == weird.sorted)
    // every manifest body must PARSE as JSON with the raw repo id inside
    // (filenames are URL-encoded; the body used to interpolate raw)
    val parsed = spark.read
      .json(java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .select("repo", "rows").as[(String, Long)].collect()
    assert(parsed.map(_._1).sorted.toSeq == weird.sorted)
    assert(parsed.forall(_._2 == 2L))
    assert(spark.read.json(
      java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .columns.toSet.contains("_corrupt_record") == false, "manifest failed to parse as JSON")
  }

  test("resume: orphan partition data without a manifest stays invisible, then heals") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(
      repos.flatMap(r => (1 to 5).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r)))
    )
    Resume.writeResumable(spark, trips("repo-a"), table)
    // simulate a crash mid-write of repo-b: partition dir exists, no manifest
    trips("repo-b").toDF().drop("repo").write.parquet(s"$table/repo=repo-b")
    assert(Resume.read(spark, table).map(_.repo).distinct().collect().toSeq == Seq("repo-a"),
      "uncommitted orphan partition must be invisible to readers")
    // the next resumable run overwrites the orphan and commits it
    val c = Resume.writeResumable(spark, trips("repo-a", "repo-b"), table)
    assert(c.map(_.repo) == Seq("repo-b") && c.head.rows == 5)
    assert(Resume.read(spark, table).count() == 10)
  }

  private def filesUnder(table: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(table)
    if (!Files.exists(root)) Seq.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, Files.getLastModifiedTime(p).toMillis)).toVector.sorted
      finally walk.close()
    }
  }

  test("resume: null-repo triples are rejected before any data file or manifest is written") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val trips = spark.createDataset(
      (1 to 6).map(i => Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", if (i % 3 == 0) null else "repo-a")))
    val e = intercept[IllegalArgumentException](Resume.writeResumable(spark, trips, table))
    assert(e.getMessage.contains("2 triples have a null repo"), e.getMessage)
    assert(filesUnder(table).isEmpty, s"files written before the rejection: ${filesUnder(table)}")
    assert(Resume.committedRepos(table).isEmpty)
  }

  test("resume: one commit evaluates its input exactly once") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val fired = spark.sparkContext.longAccumulator("resume-input-rows")
    val trips = spark.createDataset(
      Seq("repo-a", "repo-b", "repo-c").flatMap(r =>
        (1 to 7).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r))))
      .map { t => fired.add(1); t }
    val commits = Resume.writeResumable(spark, trips, table)
    assert(commits.map(_.rows).sum == 21)
    assert(fired.value == 21L, s"upstream map fired ${fired.value} times for 21 rows")
  }

  test("resume: manifest counters equal a groupBy/count_distinct oracle under AQE on a skewed input") {
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit}
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    import s.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val rng = new scala.util.Random(5)
    // 2000 rows over 50 repos, repo-00 holding 30% of them; one subject in
    // nine is null, which count_distinct (and the commit counter) skips
    val trips = s.createDataset((0 until 2000).map { i =>
      val repo = if (i % 10 < 3) "repo-00" else f"repo-${1 + rng.nextInt(49)}%02d"
      val subj = if (rng.nextInt(9) == 0) null else s"drug${rng.nextInt(60)}"
      Triple(subj, "int", "obj", s"s$i", "e1", "e2", repo)
    })
    val oracle = trips.groupBy(col("repo"))
      .agg(count(lit(1)).as("rows"), count_distinct(col("drugSubj")).as("subj"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(oracle.length == 50 && oracle.exists(o => o._1 == "repo-00" && o._2 == 600))
    val commits = Resume.writeResumable(s, trips, table)
    assert(commits.map(c => (c.repo, c.rows, c.distinctSubj)) == oracle)
    val manifests = s.read.json(java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .select("repo", "rows", "distinct_subj").as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(manifests == oracle)
  }

  test("resume: a hot repo is written by every task that holds it, in one job, and merges exactly") {
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit, spark_partition_id}
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    // 3000 rows in 6 partitions with no shuffle; 90% in repo "hot", and
    // subjects shared across partitions, so per-task distinct counts
    // would over-count when summed
    val trips = spark.range(0, 3000, 1, 6).map { i =>
      val repo = if (i % 10 == 9) s"cold-${i / 10 % 4}" else "hot"
      val subj = if (i % 13 == 0) null else s"drug${i * 7919 % 50}"
      Triple(subj, "int", "obj", s"s$i", "e1", "e2", repo)
    }
    assert(trips.rdd.getNumPartitions >= 4)
    val oracle = trips.groupBy(col("repo"))
      .agg(count(lit(1)).as("rows"), count_distinct(col("drugSubj")).as("subj"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(oracle.find(_._1 == "hot").exists(_._2 == 2700), s"fixture: $oracle")
    val perTask = trips.filter(col("repo") === "hot").groupBy(spark_partition_id())
      .agg(count_distinct(col("drugSubj"))).as[(Int, Long)].collect()
    assert(perTask.length > 1 && perTask.map(_._2).sum > oracle.find(_._1 == "hot").get._3,
      s"vacuous fixture: per-task subject sets do not overlap: ${perTask.toSeq}")

    val (commits, jobs) = jobsOf(Resume.writeResumable(spark, trips, table))
    assert(jobs == 1, s"the commit ran $jobs jobs")
    assert(commits.map(c => (c.repo, c.rows, c.distinctSubj)) == oracle)
    val manifests = spark.read.json(java.nio.file.Paths.get(table, "_graft_commits").toString + "/*.json")
      .select("repo", "rows", "distinct_subj").as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(manifests == oracle)
    val hotFiles = walkAll(java.nio.file.Paths.get(table, "repo=hot")).map(_.getFileName.toString)
      .filter(_.matches("""part-\d+-.*\.parquet"""))
    assert(hotFiles.map(_.split('-')(1)).distinct.length == perTask.length,
      s"the hot repo was not written by each of its ${perTask.length} tasks: $hotFiles")
    assert(Resume.read(spark, table).collect().map(_.toString).sorted.toSeq ==
      trips.collect().map(_.toString).sorted.toSeq)
  }

  test("resume: empty and all-committed inputs return no commits and write no files") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    assert(Resume.writeResumable(spark, spark.emptyDataset[Triple], table).isEmpty)
    assert(filesUnder(table).isEmpty, s"empty input wrote ${filesUnder(table)}")
    val trips = spark.createDataset((1 to 4).map(i => Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", "repo-a")))
    assert(Resume.writeResumable(spark, trips, table).map(_.repo) == Seq("repo-a"))
    val before = filesUnder(table)
    assert(Resume.writeResumable(spark, trips, table).isEmpty)
    assert(filesUnder(table) == before, "an all-committed input must not touch the table")
  }

  private def jobsOf(body: => Seq[Resume.Commit]) = org.apache.spark.graft.ListenerDrain.jobsOf(spark.sparkContext)(body)

  test("resume: a commit is one write (at most 2 Spark jobs) and caches nothing") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(repos.flatMap(r =>
      (1 to 5).map(i => Triple(s"d$i", "int", "o", s"$r.s$i", "e1", "e2", r))))
    // other suites in this JVM leave frames cached; start from none
    spark.catalog.clearCache()
    // a fresh table, then a second call with committed repos to exclude
    val (first, firstJobs) = jobsOf(Resume.writeResumable(spark, trips("repo-a", "repo-b"), table))
    assert(first.map(_.repo) == Seq("repo-a", "repo-b"))
    assert(firstJobs <= 2, s"first commit ran $firstJobs jobs")
    val (second, secondJobs) =
      jobsOf(Resume.writeResumable(spark, trips("repo-a", "repo-b", "repo-c"), table))
    assert(second.map(_.repo) == Seq("repo-c"))
    assert(secondJobs <= 2, s"commit after a resume ran $secondJobs jobs")
    assert(spark.sharedState.cacheManager.isEmpty, "writeResumable left a cached frame behind")
  }

  test("resume: a commit is one Spark job for any partition count, after a resume too, and caches nothing") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(repos.flatMap(r =>
      (1 to 5).map(i => Triple(s"d$i", "int", "o", s"$r.s$i", "e1", "e2", r))))
    // other suites in this JVM leave frames cached; start from none
    spark.catalog.clearCache()
    val one = trips("repo-a", "repo-b").coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val (first, firstJobs) = jobsOf(Resume.writeResumable(spark, one, table))
    assert(first.map(c => (c.repo, c.rows)) == Seq(("repo-a", 5L), ("repo-b", 5L)))
    assert(firstJobs == 1, s"one-partition commit ran $firstJobs jobs")
    val many = trips("repo-c", "repo-d", "repo-e")
    assert(many.rdd.getNumPartitions > 1)
    val (second, secondJobs) = jobsOf(Resume.writeResumable(spark, many, table))
    assert(second.map(_.repo) == Seq("repo-c", "repo-d", "repo-e"))
    assert(secondJobs == 1, s"multi-partition commit ran $secondJobs jobs")
    // committed repos to exclude, in a multi-partition input
    val (third, thirdJobs) = jobsOf(Resume.writeResumable(spark, trips("repo-a", "repo-e", "repo-f"), table))
    assert(third.map(_.repo) == Seq("repo-f"))
    assert(thirdJobs == 1, s"commit after a resume ran $thirdJobs jobs")
    assert(Resume.read(spark, table).count() == 30)
    assert(spark.sharedState.cacheManager.isEmpty, "writeResumable left a cached frame behind")
  }

  private def walkAll(root: java.nio.file.Path): Vector[java.nio.file.Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.toVector finally walk.close()
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("resume: one part file per input partition holding the repo, Spark-escaped dirs, no .crc/_temporary/staging, table modes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count_distinct, spark_partition_id}
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val root = java.nio.file.Paths.get(table)
    val weird = Seq("org/name", "a:b=c", "pct%20enc")
    // 9 rows over 4 partitions with no shuffle: the first two repos span two
    val trips = spark.range(0, 9, 1, 4).map { i =>
      val r = weird((i / 3).toInt)
      Triple(s"d${i % 3}", "int", "o", s"$r.s$i", "e1", "e2", r)
    }
    val holders = trips.withColumn("pid", spark_partition_id()).groupBy("repo").agg(count_distinct(col("pid")))
      .as[(String, Long)].collect().toMap
    assert(holders.values.exists(_ > 1), s"vacuous fixture: no repo spans input partitions: $holders")
    assert(Resume.writeResumable(spark, trips, table).map(_.repo) == weird.sorted)
    val data = walkAll(root).filterNot(p => root.relativize(p).toString.startsWith("_graft_commits"))
    val parts = data.filter(Files.isRegularFile(_)).map(root.relativize(_).toString)
    assert(parts.length == holders.values.sum, s"data files: $parts")
    weird.foreach { r =>
      val dir = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString("repo", r)
      assert(parts.count(f => f.startsWith(dir + "/") && f.drop(dir.length + 1).matches("""part-.*\.parquet""")) == holders(r),
        s"$r: not ${holders(r)} part files under $dir in $parts")
    }
    assert(Set("repo=org%2Fname", "repo=a%3Ab%3Dc", "repo=pct%2520enc") ==
      data.filter(p => Files.isDirectory(p) && p.getParent == root).map(_.getFileName.toString).toSet)
    assert(!walkAll(root).exists { p =>
      val n = p.getFileName.toString
      n.endsWith(".crc") || n == "_temporary" || n == "_graft_staging" || n.startsWith(".")
    }, s"leftovers in ${walkAll(root)}")
    // the modes the Hadoop-committer write gave the table: 755 dirs, 644 files
    data.foreach { p =>
      assert(mode(p) == (if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"), s"$p has mode ${mode(p)}")
    }
  }

  test("resume: a killed run's staging dir is invisible to read and removed by the next commit") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    def trips(repos: String*) = spark.createDataset(
      repos.flatMap(r => (1 to 4).map(i => Triple(s"drug$i", "int", "obj", s"$r.s$i", "e1", "e2", r))))
    Resume.writeResumable(spark, trips("repo-a"), table)
    // what a commit killed after its write stage leaves: staged repo dirs
    // (one of them a committed repo) under _graft_staging
    val staged = java.nio.file.Paths.get(table, "_graft_staging", "killed-run", "0-7")
    trips("repo-a", "repo-b").toDF().drop("repo").write.parquet(staged.resolve("repo=repo-a").toString)
    trips("repo-b").toDF().drop("repo").write.parquet(staged.resolve("repo=repo-b").toString)
    val back = Resume.read(spark, table)
    assert(back.count() == 4 && back.map(_.repo).distinct().collect().toSeq == Seq("repo-a"),
      "staged files leaked into the committed snapshot")
    assert(Resume.writeResumable(spark, trips("repo-a", "repo-b"), table).map(_.repo) == Seq("repo-b"))
    assert(!Files.exists(java.nio.file.Paths.get(table, "_graft_staging")), "staging dir survived a commit")
    assert(Resume.read(spark, table).count() == 8)
  }

  test("resume: empty-string repos are rejected like null ones, with no file written") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    // "" would land in repo=__HIVE_DEFAULT_PARTITION__, which partition
    // discovery reads back as null: committed by manifest, lost on read
    val trips = spark.createDataset((1 to 7).map(i =>
      Triple(s"d$i", "int", "o", s"s$i", "e1", "e2", if (i % 3 == 0) "" else "repo-a")))
    val e = intercept[IllegalArgumentException](Resume.writeResumable(spark, trips, table))
    assert(e.getMessage.contains("2 triples have an empty repo"), e.getMessage)
    assert(filesUnder(table).isEmpty, s"files written before the rejection: ${filesUnder(table)}")
    assert(Resume.committedRepos(table).isEmpty)
    val both = spark.createDataset(Seq(null, "", "", "repo-a").zipWithIndex.map { case (r, i) =>
      Triple("d", "int", "o", s"s$i", "e1", "e2", r) })
    val e2 = intercept[IllegalArgumentException](Resume.writeResumable(spark, both.coalesce(1), table))
    assert(e2.getMessage.contains("1 triples have a null repo and 2 triples have an empty repo"), e2.getMessage)
    assert(filesUnder(table).isEmpty, s"files written before the rejection: ${filesUnder(table)}")
  }

  test("resume: sid, e1 and e2 are written without a dictionary, the other columns with one") {
    import spark.implicits._
    val table = Files.createTempDirectory("kg").toString + "/triples"
    val trips = spark.createDataset((1 to 50).map(i => Triple(s"d${i % 3}", "int", "o", s"s$i", s"e$i", s"f$i", "repo-a")))
    Resume.writeResumable(spark, trips, table)
    val file = walkAll(java.nio.file.Paths.get(table, "repo=repo-a")).filter(_.toString.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(file))
    val dict = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage).toMap
      finally reader.close()
    assert(dict == Map("drugSubj" -> true, "interactionPred" -> true, "drugObj" -> true,
      "sid" -> false, "e1" -> false, "e2" -> false), dict)
  }

  test("codemaps: sorted deterministic ids, PAD=0/UNK=1, idx round-trip") {
    import spark.implicits._
    val sents = spark.createDataset(Seq(
      graft.core.ParsedSentence("r", "d", "s0", "Warfarin interacts.",
        Seq(graft.core.GoldSpan("e0", 0, 7, "drug", "Warfarin", "0-7")), Nil)
    ))
    val cm = graft.ner.Codemaps.build(spark, sents, maxlen = 5, suflen = 5)
    // words sorted: '.', 'interacts', 'warfarin' -> ids 2,3,4
    assert(cm.wordIndex == Map("." -> 2, "interacts" -> 3, "warfarin" -> 4))
    assert(cm.labelIndex.keySet == Set("B-drug", "O"))
    assert(cm.encodeWords(Seq("Warfarin", "unknown")).toSeq == Seq(4, 1, 0, 0, 0))
    val p = Files.createTempDirectory("cm").resolve("m.idx").toString
    cm.save(p)
    assert(graft.ner.Codemaps.load(p) == cm)
  }
}
