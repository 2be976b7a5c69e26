package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Versioned-parquet catalog: atomic pointer swap + pruning (SURVEY.md §7.6). */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog() =
    new Catalog(spark, tempDir("graft-cat").toString)

  test("write then read round-trips; names are case-insensitive") {
    val cat = freshCatalog()
    cat.write("Orders", Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(cat.read("orders").count() == 2)
    assert(cat.read("ORDERS").count() == 2)
    assert(cat.exists("orders") && !cat.exists("nope"))
  }

  test("overwrite is versioned: readers see old data until the pointer flips") {
    val cat = freshCatalog()
    cat.write("t", Seq(1, 2, 3).toDF("id"))
    val before = cat.currentPath("t").get
    cat.write("t", Seq(4).toDF("id"))
    assert(cat.currentPath("t").get != before)
    assert(rows(cat.read("t")).flatten == Seq(4))
  }

  test("truncate leaves an empty current version (S2)") {
    val cat = freshCatalog()
    cat.write("t", Seq(1, 2, 3).toDF("id"))
    cat.truncate("t")
    assert(cat.read("t").count() == 0)
    assert(cat.read("t").schema.fieldNames.toSeq == Seq("id"))
  }

  test("CAS write: a stale-base writer fails loudly instead of clobbering") {
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    val base = cat.currentVersionNumber("t").get      // writer A reads at v0
    cat.write("t", Seq(2).toDF("id"))                  // writer B commits v1
    val e = intercept[java.util.ConcurrentModificationException](
      cat.write("t", Seq(99).toDF("id"), expectedVersion = base))
    assert(e.getMessage.contains("expected version 0"))
    assert(rows(cat.read("t")).flatten == Seq(2))      // B's commit survives
    // expectedVersion = -1 means "must not exist yet": create-once semantics.
    cat.write("fresh", Seq(7).toDF("id"), expectedVersion = -1L)
    intercept[java.util.ConcurrentModificationException](
      cat.write("fresh", Seq(8).toDF("id"), expectedVersion = -1L))
  }

  test("a claimed-but-unflipped version is skipped, never clobbered") {
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    // Another writer has CLAIMED v_1 (directory created, commit in flight
    // or crashed): the next writer must go PAST it — writing into the
    // claimed directory would clobber the in-flight commit, and failing
    // forever would let one crash brick the table.
    val claimed = java.nio.file.Paths.get(cat.currentPath("t").get)
      .getParent.resolve("v_1")
    Files.createDirectory(claimed)
    cat.write("t", Seq(3).toDF("id"))
    assert(rows(cat.read("t")).flatten == Seq(3))
    assert(cat.currentVersionNumber("t").contains(2L))
    assert(Files.isDirectory(claimed)) // the foreign claim was not touched
  }

  test("a writer whose base went stale mid-job aborts instead of un-committing") {
    import org.apache.spark.sql.functions.udf
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    val gate = tempDir("graft-cas").resolve("b-committed")
    val waitForGate = udf { (x: Int) =>
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!Files.exists(gate) && System.nanoTime() < deadline) Thread.sleep(20)
      x
    }
    // Writer A: claims its version, then its Spark job blocks on the gate.
    val slowDf = Seq(10).toDF("id").select(waitForGate(col("id")).as("id"))
    var aFailure: Option[Throwable] = None
    val a = new Thread(() =>
      try cat.write("t", slowDf)
      catch { case t: Throwable => aFailure = Some(t) })
    a.start()
    // Writer B commits while A's job is still running, then opens the gate.
    val bDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (cat.currentVersionNumber("t").contains(0L) &&
      System.nanoTime() < bDeadline) {
      try cat.write("t", Seq(2).toDF("id"))
      catch { case _: java.util.ConcurrentModificationException => () }
    }
    Files.createFile(gate)
    a.join(60000)
    // A must abort loudly — flipping would have silently un-committed B.
    assert(aFailure.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"writer A outcome: $aFailure")
    assert(rows(cat.read("t")).flatten == Seq(2))
  }

  test("a stale commit lock (dead holder) is broken; a live commit removes its lock") {
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    val lock = java.nio.file.Paths.get(cat.currentPath("t").get)
      .getParent.resolve("_COMMIT_LOCK")
    // simulate a holder that died mid-commit two minutes ago
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 120000))
    cat.write("t", Seq(2).toDF("id")) // must break the stale lock, not hang
    assert(rows(cat.read("t")).flatten == Seq(2))
    assert(!Files.exists(lock), "commit must release the lock it held")
  }

  test("the first writer after a crash commits: a lock older than the wait bound is stale") {
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    val lock = java.nio.file.Paths.get(cat.currentPath("t").get)
      .getParent.resolve("_COMMIT_LOCK")
    // a holder that died mid-commit 45 s ago: past the 10 s wait bound
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis - 45000))
    cat.write("t", Seq(2).toDF("id"))
    assert(rows(cat.read("t")).flatten == Seq(2))
    assert(!Files.exists(lock), "commit must release the lock it held")
  }

  test("a crashed flip's tmp pointer is ignored by readers and deleted by the next commit") {
    val cat = freshCatalog()
    cat.write("t", Seq(1).toDF("id"))
    val tableDir = java.nio.file.Paths.get(cat.currentPath("t").get).getParent
    def state() = (rows(cat.read("t")), cat.versions("t"), cat.history("t"))
    val before = state()
    // a writer that died between flipPointer's tmp write and its move
    val tmp = tableDir.resolve("_CURRENT.tmp.v_7")
    Files.writeString(tmp, "v_7")
    assert(state() == before, "a tmp pointer must not change what readers see")
    cat.write("t", Seq(2).toDF("id"))
    assert(!Files.exists(tmp), "the next commit must delete the stale tmp pointer")
    val (read, versions, history) = state()
    assert(read == Seq(Seq(2)) && versions == Seq(0L, 1L))
    assert(history.map(h => (h.version, h.isCurrent)) == Seq((0L, false), (1L, true)))
  }

  test("versions are ZSTD parquet with no _SUCCESS; Snappy versions and mixed chains still read") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def files(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
    def dataFiles(dir: java.nio.file.Path) =
      files(dir).filter(_.getFileName.toString.endsWith(".parquet"))
    // the codec of every column chunk, read from the parquet footers
    def codecs(paths: Seq[java.nio.file.Path]): Set[String] = paths.flatMap { p =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), spark.sparkContext.hadoopConfiguration)
      scala.util.Using.resource(ParquetFileReader.open(in)) { r =>
        r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name))
      }
    }.toSet
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").repartition(2)

    // 1-2: a fresh version is ZSTD throughout and holds only data files
    // (with their checksum sidecars) and _SCHEMA
    val cat = freshCatalog()
    cat.write("t", df)
    val v0 = java.nio.file.Paths.get(cat.currentPath("t").get)
    assert(dataFiles(v0).nonEmpty && codecs(dataFiles(v0)) == Set("ZSTD"))
    val names = files(v0).map(_.getFileName.toString)
    assert(!names.exists(_.contains("_SUCCESS")), s"no _SUCCESS marker: $names")
    assert(names.forall(n => n == "_SCHEMA" ||
        (n.startsWith("part-") && n.endsWith(".parquet")) ||
        (n.startsWith(".part-") && n.endsWith(".parquet.crc"))),
      s"a version holds data files and _SCHEMA only: $names")

    // 3: a table written before this format — Snappy, _SUCCESS, no _SCHEMA
    val root = tempDir("graft-cat")
    val old = root.resolve("old").resolve("v_0")
    df.write.option("compression", "snappy").parquet(old.toString)
    Files.writeString(root.resolve("old").resolve("_CURRENT"), "v_0")
    assert(Files.exists(old.resolve("_SUCCESS")) && codecs(dataFiles(old)) == Set("SNAPPY"))
    val legacy = new Catalog(spark, root.toString)
    assert(legacy.read("old").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // 4: an append carries the Snappy files by reference next to new ZSTD
    // files, and the mixed chain reads back every row
    legacy.append("old", Seq((4L, "d")).toDF("id", "v"))
    val v1 = java.nio.file.Paths.get(legacy.currentPath("old").get)
    assert(Files.exists(v1.resolve("_MANIFEST")) && codecs(dataFiles(v1)) == Set("ZSTD"))
    assert(legacy.read("old").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // 5: compact rewrites the chain into ZSTD
    legacy.compact("old", 1)
    val v2 = java.nio.file.Paths.get(legacy.currentPath("old").get)
    assert(!Files.exists(v2.resolve("_MANIFEST")) && codecs(dataFiles(v2)) == Set("ZSTD"))
    assert(legacy.read("old").count() == 4L)
  }

  test("old versions are pruned beyond keepVersions") {
    val cat = freshCatalog()
    (1 to 5).foreach(i => cat.write("t", Seq(i).toDF("id")))
    val dir = new java.io.File(cat.currentPath("t").get).getParentFile
    val versions = dir.listFiles().filter(_.getName.startsWith("v_"))
    assert(versions.length <= 2)
    assert(rows(cat.read("t")).flatten == Seq(5))
  }

  test("expireVersions: keeps the window, deletes the rest, idempotent") {
    val cat = new Catalog(spark,
      tempDir("graft-cat").toString, keepVersions = 10)
    (1 to 4).foreach(i => cat.write("t", Seq(i, i * 10).toDF("id")))
    assert(cat.versions("t") == Seq(0L, 1L, 2L, 3L))
    assert(cat.expireVersions("t", keepLast = 2) == Seq(0L, 1L))
    assert(cat.versions("t") == Seq(2L, 3L))
    // retained window still time-travels; expired version reads fail
    assert(rows(cat.readVersion("t", 2)).flatten.toSet == Set(3, 30))
    intercept[Exception] { cat.readVersion("t", 0).count() }
    // idempotent: a second expiry finds nothing
    assert(cat.expireVersions("t", 2).isEmpty)
    assert(rows(cat.read("t")).flatten.toSet == Set(4, 40))
  }

  test("expireVersions: never deletes a directory a kept manifest carries") {
    val cat = new Catalog(spark,
      tempDir("graft-cat").toString, keepVersions = 10)
    cat.write("t", (1 to 40).toDF("id").repartition(4))
    cat.deleteWhere("t", col("id") > 35) // v1 carries v0 files by reference
    assert(cat.versions("t") == Seq(0L, 1L))
    // keepLast=1 wants v0 gone, but v1's manifest still references it
    assert(cat.expireVersions("t", keepLast = 1).isEmpty)
    assert(cat.read("t").count() == 35)
    // a full rewrite breaks the chain; then v0 AND the delete version go
    cat.write("t", cat.read("t"))
    assert(cat.expireVersions("t", keepLast = 1) == Seq(0L, 1L))
    assert(cat.read("t").count() == 35)
  }

  test("tags: pinned version survives retention; readTag exact; dropTag frees it") {
    val cat = freshCatalog() // keepVersions = 2
    cat.write("t", Seq(1, 2, 3).toDF("id"))
    cat.tag("t", "release-1", 0L)
    (10 to 13).foreach(i => cat.write("t", Seq(i).toDF("id")))
    // retention 2 would have pruned v0 — the tag shields it
    assert(rows(cat.readTag("t", "release-1")).flatten.toSet == Set(1, 2, 3))
    assert(cat.tags("t") == Map("release-1" -> 0L))
    assert(rows(cat.read("t")).flatten == Seq(13))
    // tagging a pruned/unknown version fails loudly
    intercept[IllegalArgumentException] { cat.tag("t", "nope", 2L) }
    intercept[IllegalArgumentException] { cat.readTag("t", "ghost").count() }
    // dropping the tag releases the version at the next prune
    cat.dropTag("t", "release-1")
    cat.write("t", Seq(99).toDF("id"))
    intercept[Exception] { cat.readTag("t", "release-1").count() }
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(cat.currentPath("t").get).getParent.resolve("v_0")),
      "untagged old version must prune away")
  }

  test("append adds rows as a new atomic version (S4 INSERT INTO)") {
    val cat = freshCatalog()
    cat.append("t", Seq(1, 2).toDF("id"))
    cat.append("t", Seq(3).toDF("id"))
    assert(rows(cat.read("t").orderBy("id")).flatten == Seq(1, 2, 3))
  }

  test("compact rewrites many small files into few, same rows, new version") {
    val cat = freshCatalog()
    cat.write("t", spark.range(100).toDF("id").repartition(16))
    def partFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(cat.currentPath("t").get))
      .filter(p => p.getFileName.toString.startsWith("part-")).count()
    assert(partFiles == 16)
    cat.compact("t", 2)
    assert(partFiles <= 2)
    assert(cat.read("t").count() == 100)
  }

  test("writeSorted lays out disjoint key ranges per file (scan-pruning layout)") {
    val cat = freshCatalog()
    cat.writeSorted("t", spark.range(1000).toDF("id")
      .repartition(8), 4, "id") // shuffled input → 4 range-sorted files
    val files = java.nio.file.Files.list(
        java.nio.file.Paths.get(cat.currentPath("t").get))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map[String](_.toString).toArray.map(_.toString)
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // each file's range ends before the next begins → min/max stats prune
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) => assert(hi < lo); case _ => }
    assert(cat.read("t").count() == 1000)
  }

  test("time travel: retained versions readable, pruned versions fail clearly") {
    val cat = freshCatalog() // keepVersions = 2
    cat.write("t", Seq(1).toDF("v"))       // v_0
    cat.write("t", Seq(1, 2).toDF("v"))    // v_1
    assert(cat.versions("t") == Seq(0L, 1L))
    assert(cat.readVersion("t", 0).count() == 1)
    assert(cat.readVersion("t", 1).count() == 2)
    cat.write("t", Seq(1, 2, 3).toDF("v")) // v_2 → v_0 pruned
    assert(cat.versions("t") == Seq(1L, 2L))
    assert(cat.readVersion("t", 1).count() == 2)
    val e = intercept[IllegalArgumentException](cat.readVersion("t", 0))
    assert(e.getMessage.contains("pruned"))
  }

  test("appendEvolve: additive schema evolution, old rows null-fill new columns") {
    val cat = freshCatalog()
    cat.write("t", Seq((1, "a")).toDF("id", "v"))
    cat.appendEvolve("t", Seq((2, "b", 9.5)).toDF("id", "v", "score"))
    val got = cat.read("t").orderBy("id")
    assert(got.columns.toSeq == Seq("id", "v", "score"))
    assert(rows(got) == Seq(Seq(1, "a", null), Seq(2, "b", 9.5)))
    // and the reverse: appending a NARROWER frame null-fills its missing cols
    cat.appendEvolve("t", Seq((3, "c")).toDF("id", "v"))
    assert(rows(cat.read("t").orderBy("id")).last == Seq(3, "c", null))
  }

  test("failed write never moves the pointer (COMMIT-equivalent atomicity)") {
    val cat = freshCatalog()
    cat.write("t", Seq(1, 2).toDF("v"))
    intercept[Exception] {
      cat.write("t", Seq(1).toDF("v").select(expr("raise_error('boom')").as("v")))
    }
    // readers still see the last committed version, not a torn state
    assert(cat.currentPath("t").get.endsWith("v_0"))
    assert(cat.read("t").count() == 2)
    // the failed writer deleted its own claim
    assert(cat.versions("t") == Seq(0L))
    assert(!Files.exists(java.nio.file.Paths.get(cat.currentPath("t").get)
      .getParent.resolve("v_1")))
    // so did one whose pre-flip check refused the landed data
    intercept[IllegalStateException](
      cat.write("t", Seq(7).toDF("v"), (_: DataFrame) => throw new IllegalStateException("no")))
    assert(cat.versions("t") == Seq(0L) && cat.read("t").count() == 2)
    // and the next successful write recovers cleanly
    cat.write("t", Seq(1, 2, 3).toDF("v"))
    assert(cat.read("t").count() == 3)
  }

  test("every version records the schema the parquet reader infers") {
    val cat = new Catalog(spark, tempDir("graft-cat").toString,
      keepVersions = 10)
    def rows(ids: Seq[Int]) = ids.toDF("id").select(col("id"),
      col("id").cast("decimal(12,2)").as("amount"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), col("id")).as("day"),
      timestamp_seconds(col("id").cast("long") + 1700000000L).as("ts"),
      array(col("id"), col("id") + 1).as("xs"),
      struct(col("id").as("a"), col("id").cast("string").as("b")).as("s"))
    def recorded(): Unit = {
      val dir = cat.currentPath("t").get
      assert(Files.isRegularFile(java.nio.file.Paths.get(dir, "_SCHEMA")))
      assert(cat.read("t").schema == spark.read.parquet(dir).schema, dir)
    }
    cat.write("t", rows(1 to 6)); recorded()
    cat.append("t", rows(7 to 8)); recorded()
    cat.appendEvolve("t", rows(9 to 9).withColumn("note", lit("n"))); recorded()
    cat.compact("t", 1); recorded()
    assert(cat.deleteWhere("t", col("id") === 2) == 1L); recorded()
    cat.merge("t", rows(Seq(3, 10)).withColumn("note", lit("m")), "id"); recorded()
    val merged = cat.currentVersionNumber("t").get
    cat.truncate("t"); recorded()
    cat.append("t", rows(11 to 12).withColumn("note", lit("s"))); recorded()
    cat.rollback("t", merged); recorded()
    assert(cat.read("t").count() == 9)
    // a version without the file (older warehouse) is read by inference
    val dir = java.nio.file.Paths.get(cat.currentPath("t").get)
    val inferred = cat.read("t").schema
    Files.delete(dir.resolve("_SCHEMA"))
    assert(cat.read("t").schema == inferred && cat.read("t").count() == 9)
  }

  test("append is file-level: existing data files are referenced, not rewritten") {
    val cat = freshCatalog()
    cat.write("t", spark.range(100).toDF("id").repartition(4)) // v_0: 4 files
    val v0 = java.nio.file.Paths.get(cat.currentPath("t").get)
    def parquetFiles(d: java.nio.file.Path): Seq[java.nio.file.Path] =
      new java.io.File(d.toString).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).map(_.toPath)
    val before = parquetFiles(v0).map(p => p -> Files.getLastModifiedTime(p))
    assert(before.size == 4)
    cat.append("t", Seq(100L, 101L).toDF("id"))
    // v_0's files survive byte-for-byte in place (no rewrite, no copy) …
    before.foreach { case (p, mtime) =>
      assert(Files.exists(p), s"append rewrote/moved $p")
      assert(Files.getLastModifiedTime(p) == mtime, s"append touched $p")
    }
    // … the new version holds ONLY the appended rows' files plus the manifest …
    val v1 = java.nio.file.Paths.get(cat.currentPath("t").get)
    assert(v1 != v0)
    assert(Files.exists(v1.resolve("_MANIFEST")))
    assert(spark.read.parquet(parquetFiles(v1).map(_.toString): _*).count() == 2,
      "append must land only the batch, not the table")
    // … and the composed read sees everything.
    assert(cat.read("t").count() == 102)
    assert(rows(cat.read("t").orderBy(desc("id")).limit(2)).flatten == Seq(101L, 100L))
  }

  test("prune keeps old directories still referenced by the current manifest") {
    val cat = freshCatalog() // keepVersions = 2
    cat.write("t", Seq(1L).toDF("id"))   // v_0
    cat.append("t", Seq(2L).toDF("id"))  // v_1 → refs v_0
    cat.append("t", Seq(3L).toDF("id"))  // v_2 → refs v_0, v_1; naive prune would drop v_0
    val dir = new java.io.File(cat.currentPath("t").get).getParentFile
    assert(dir.listFiles().map(_.getName).contains("v_0"))
    assert(rows(cat.read("t").orderBy("id")).flatten == Seq(1L, 2L, 3L))
    // a full rewrite ages the manifests out; referenced dirs are then reclaimed
    cat.compact("t", 1)                  // v_3, self-contained
    cat.write("t", Seq(9L).toDF("id"))   // v_4 → retained {v_3, v_4}, refs gone
    val names = dir.listFiles().map(_.getName).filter(_.startsWith("v_")).sorted
    assert(names.toSeq == Seq("v_3", "v_4"))
    assert(rows(cat.read("t")).flatten == Seq(9L))
  }

  test("append rejects a mismatched schema loudly") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a")).toDF("id", "v"))
    val e = intercept[IllegalArgumentException](
      cat.append("t", Seq(("a", 1L)).toDF("id", "v"))) // swapped types
    assert(e.getMessage.contains("schema mismatch"))
    val e2 = intercept[IllegalArgumentException](
      cat.append("t", Seq(1L).toDF("id"))) // missing column
    assert(e2.getMessage.contains("missing=v"))
    // column ORDER alone is fine — normalized to the table's order
    cat.append("t", Seq(("b", 2L)).toDF("v", "id"))
    assert(rows(cat.read("t").orderBy("id")) == Seq(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("append checks the current version's schema, also one another Catalog evolved") {
    val root = tempDir("graft-cat").toString
    val (a, b) = (new Catalog(spark, root), new Catalog(spark, root))
    a.append("t", Seq((1, "a")).toDF("id", "s"))
    b.appendEvolve("t", Seq((2, "b", 7)).toDF("id", "s", "extra"))
    val e = intercept[IllegalArgumentException](
      a.append("t", Seq((3, "c")).toDF("id", "s")))
    assert(e.getMessage.contains("missing=extra"))
    assert(rows(new Catalog(spark, root).read("t").orderBy("id")) ==
      Seq(Seq(1, "a", null), Seq(2, "b", 7)))
  }

  test("history reports per-version file composition") {
    val cat = freshCatalog()
    cat.write("t", spark.range(10).toDF("id").repartition(2)) // v_0: 2 files
    cat.append("t", Seq(10L).toDF("id"))                      // v_1: manifest
    val h = cat.history("t")
    assert(h.map(_.version) == Seq(0L, 1L))
    assert(h.map(_.isCurrent) == Seq(false, true))
    assert(h.head.nFiles == 2 && h.head.nCarried == 0)
    val v1 = h.last
    assert(v1.nFiles == 3 && v1.nCarried == 2, v1) // 2 carried + 1 new
    // a compaction collapses the chain into one self-contained version;
    // v_0 stays while the retained v_1 still references its files
    cat.compact("t", 1)
    assert(cat.history("t").map(i => (i.version, i.isCurrent, i.nFiles, i.nCarried)) ==
      Seq((0L, false, 2, 0), (1L, false, 3, 2), (2L, true, 1, 0)))
  }

  test("a legacy _BATCH_ID file in the current version is ignored and not carried") {
    val cat = freshCatalog() // keepVersions = 2
    cat.write("t", Seq(1L, 2L, 3L).toDF("id"))
    // a warehouse written when versions carried a stream batch id
    val v0 = java.nio.file.Paths.get(cat.currentPath("t").get)
    Files.writeString(v0.resolve("_BATCH_ID"), "7")
    def batchIdFiles(): Seq[String] = cat.versions("t")
      .map(v => v0.resolveSibling(s"v_$v").resolve("_BATCH_ID"))
      .filter(Files.exists(_)).map(_.getParent.getFileName.toString)
    assert(rows(cat.read("t").orderBy("id")).flatten == Seq(1L, 2L, 3L))
    cat.append("t", Seq(4L).toDF("id"))
    assert(rows(cat.read("t").orderBy("id")).flatten == Seq(1L, 2L, 3L, 4L))
    val h = cat.history("t")
    assert(h.last.nCarried == h.head.nFiles && h.last.nFiles == h.head.nFiles + 1)
    cat.truncate("t")
    assert(cat.read("t").count() == 0 && cat.read("t").columns.toSeq == Seq("id"))
    assert(batchIdFiles() == Seq("v_0"), "no later version may carry _BATCH_ID")
    // v_3: the retained v_2 and v_3 reference nothing older, so the prune
    // drops v_0 (with its _BATCH_ID) and v_1
    cat.write("t", Seq(9L).toDF("id"))
    assert(cat.versions("t") == Seq(2L, 3L))
    assert(rows(cat.read("t")).flatten == Seq(9L) && batchIdFiles().isEmpty)
  }

  test("writePartitioned: directory pruning on the partition filter, appends refused") {
    val cat = freshCatalog()
    val df = Seq((1L, "en", 10L), (2L, "fr", 20L), (3L, "en", 30L), (4L, "de", 40L))
      .toDF("doc_id", "lang", "n")
    cat.writePartitioned("docs", df, "lang")
    // full read round-trips all rows with the partition column restored
    assert(rows(cat.read("docs").select("doc_id", "lang").orderBy("doc_id")) ==
      Seq(Seq(1L, "en"), Seq(2L, "fr"), Seq(3L, "en"), Seq(4L, "de")))
    // the filter lands as a PARTITION filter on the scan (directory-level
    // pruning at listing time), not a post-scan data filter
    val filtered = cat.read("docs").filter(col("lang") === "en")
    assert(filtered.count() == 2)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*lang.*"),
      s"expected a partition filter on lang:\n$scan")
    // file-level append cannot compose with nested partition dirs: loud no
    val e = intercept[IllegalStateException] {
      cat.append("docs", Seq((5L, "en", 50L)).toDF("doc_id", "lang", "n"))
    }
    assert(e.getMessage.contains("partition"))
    // a plain rewrite still works and flattens the layout
    cat.write("docs", cat.read("docs"))
    assert(cat.read("docs").count() == 4)
  }

  test("rollback flips the pointer to a retained version; nothing is deleted") {
    val cat = freshCatalog()
    cat.write("t", Seq(1, 2, 3).toDF("id"))
    val v0 = cat.currentVersionNumber("t").get
    cat.write("t", Seq(9).toDF("id")) // the "bad batch"
    assert(cat.read("t").count() == 1)
    cat.rollback("t", v0)
    assert(rows(cat.read("t").orderBy("id")).flatten == Seq(1, 2, 3))
    // the rolled-back-from version stays retained and auditable
    assert(cat.versions("t").size == 2)
    assert(cat.readVersion("t", v0 + 1).count() == 1)
    // the next write claims a FRESH version past the rolled-back-from one
    cat.write("t", Seq(7, 8).toDF("id"))
    assert(cat.currentVersionNumber("t").get > v0 + 1)
    assert(cat.read("t").count() == 2)
    // rolling back to a never-existing version fails loudly
    intercept[IllegalArgumentException](cat.rollback("t", 99L))
  }

  test("diffVersions: multiset CDC — copy-count changes surface, not vanish") {
    val cat = freshCatalog()
    cat.write("t", Seq("a", "a", "b").toDF("v"))
    cat.write("t", Seq("a", "b", "b", "c").toDF("v"))
    val got = rows(cat.diffVersions("t", 0, 1).orderBy("change", "v"))
    // one 'a' lost, one extra 'b' and a new 'c' gained — per COPY, so the
    // duplicate-count shift on a and b is visible, not cancelled out
    assert(got == Seq(Seq("b", "added"), Seq("c", "added"), Seq("a", "removed")))
    // identical versions diff to empty
    cat.write("t", Seq("x").toDF("v"))
    assert(cat.diffVersions("t", 2, 2).count() == 0)
    // a pruned version fails loudly like any other historical read
    cat.write("t", Seq("y").toDF("v"))
    cat.write("t", Seq("z").toDF("v"))
    intercept[IllegalArgumentException](cat.diffVersions("t", 0, 4).collect())
  }

  test("diffVersions: data columns named like its helper columns keep their identity") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, 10L, 5L), (2L, 20L, 6L)).toDF("id", "__w", "__n"))
    cat.write("t", Seq((1L, 10L, 5L), (2L, 21L, 6L), (3L, 30L, 7L)).toDF("id", "__w", "__n"))
    val got = rows(cat.diffVersions("t", 0, 1).orderBy("change", "id"))
    // row 2 changed only in __w: it must diff as one removed + one added copy
    assert(got == Seq(Seq(2L, 21L, 6L, "added"), Seq(3L, 30L, 7L, "added"),
      Seq(2L, 20L, 6L, "removed")))
  }

  test("missing table read fails clearly") {
    val cat = freshCatalog()
    val e = intercept[IllegalArgumentException](cat.read("ghost"))
    assert(e.getMessage.contains("ghost"))
  }

  test("snapshot pins a multi-table read set across a concurrent flip") {
    val cat = freshCatalog()
    cat.write("dim", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    cat.write("fact", Seq((1, 10L), (2, 20L)).toDF("k", "m"))
    val snap = cat.snapshot("dim", "FACT") // case-insensitive like read()
    // a writer flips BOTH tables while the "plan" holds the snapshot
    cat.write("dim", Seq((1, "a2"), (2, "b2"), (3, "c")).toDF("k", "v"))
    cat.write("fact", Seq((9, 90L)).toDF("k", "m"))
    // snapshot reads see the pinned pre-flip versions of EVERY table —
    // no post-flip rows can leak into a join over the read set
    val joined = snap.read("dim").join(snap.read("fact"), Seq("k"))
    assert(rows(joined.orderBy("k")) == Seq(Seq(1, "a", 10L), Seq(2, "b", 20L)))
    // live reads see the new versions
    assert(cat.read("dim").count() == 3 && cat.read("fact").count() == 1)
    // reading outside the declared read set fails loudly (an undeclared
    // table would silently read LIVE and reintroduce the torn-plan bug)
    val e = intercept[IllegalArgumentException](snap.read("other"))
    assert(e.getMessage.contains("read set"))
    // snapshotting a missing table fails loudly
    intercept[IllegalArgumentException](cat.snapshot("ghost"))
    // a pinned version pruned past the retention window fails the read
    // clearly (keepVersions=2): push two more versions of dim
    cat.write("dim", Seq((4, "d")).toDF("k", "v"))
    cat.write("dim", Seq((5, "e")).toDF("k", "v"))
    intercept[IllegalArgumentException](snap.read("dim").collect())
  }

  test("deleteWhere: rewrites ONLY files containing matches, carries the rest") {
    val cat = freshCatalog()
    // 4 files with disjoint id ranges — matches live in exactly one
    cat.write("t", (0 until 40).map(i => (i.toLong, s"u$i")).toDF("id", "owner")
      .repartitionByRange(4, col("id")))
    val deleted = cat.deleteWhere("t", col("id") >= 35)
    assert(deleted == 5L)
    assert(cat.read("t").count() == 35L)
    assert(cat.read("t").filter(col("id") >= 35).count() == 0L)
    // untouched files carried by reference: the new version's history row
    // reports carried files from the old directory
    val h = cat.history("t").find(_.isCurrent).get
    assert(h.nCarried >= 3, s"expected >=3 carried files, got $h")
    // old version still time-travelable until pruned
    assert(cat.readVersion("t", 0).count() == 40L)
  }

  test("deleteWhere: NULL predicate rows SURVIVE (SQL DELETE semantics)") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, Some("x")), (2L, None), (3L, Some("kill")))
      .toDF("id", "tag"))
    val deleted = cat.deleteWhere("t", col("tag") === "kill")
    assert(deleted == 1L)
    assert(cat.read("t").select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("deleteWhere: no match commits nothing; delete-all leaves empty table") {
    val cat = freshCatalog()
    cat.write("t", Seq(1L, 2L).toDF("id"))
    val v0 = cat.currentVersionNumber("t").get
    assert(cat.deleteWhere("t", col("id") > 99) == 0L)
    assert(cat.currentVersionNumber("t").get == v0, "no-op must not commit")
    assert(cat.deleteWhere("t", lit(true)) == 2L)
    assert(cat.read("t").count() == 0L)
  }

  test("diffVersionsKeyed: insert/delete/update classified; NULL flips are changes") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, Some("a")), (2L, Some("b")), (3L, Option.empty[String]),
      (4L, Some("d"))).toDF("id", "v"))
    // v1: 1 unchanged, 2 value→NULL (update shipping NULL), 3 NULL→value,
    // 4 deleted, 5 inserted
    cat.write("t", Seq((1L, Some("a")), (2L, Option.empty[String]), (3L, Some("c")),
      (5L, Some("e"))).toDF("id", "v"))
    val feed = cat.diffVersionsKeyed("t", 0, 1, "id").collect()
      .map(r => r.getLong(1) -> ((r.getString(0),
        if (r.isNullAt(2)) None else Some(r.getString(2))))).toMap
    assert(feed == Map(
      2L -> (("update", None)),       // NULL ships, old value must NOT resurrect
      3L -> (("update", Some("c"))),  // NULL→value is a change, not <=> equal
      4L -> (("delete", Some("d"))),
      5L -> (("insert", Some("e")))))
    assert(!feed.contains(1L), "unchanged keys must be absent from the feed")
  }

  test("merge: updates matched, inserts unmatched, carries untouched files") {
    val cat = freshCatalog()
    cat.write("t", (0 until 40).map(i => (i.toLong, s"old$i")).toDF("id", "v")
      .repartitionByRange(4, col("id")))
    val (nUpd, nDel, nIns) = cat.merge("t",
      Seq((35L, "new35"), (38L, "new38"), (100L, "new100")).toDF("id", "v"), "id")
    assert((nUpd, nDel, nIns) == (2L, 0L, 1L))
    val m = cat.read("t").as[(Long, String)].collect().toMap
    assert(m.size == 41 && m(35L) == "new35" && m(38L) == "new38" &&
      m(100L) == "new100" && m(0L) == "old0")
    // matches lived in one range file: the other 3 carried by reference
    assert(cat.history("t").find(_.isCurrent).get.nCarried >= 3)
    assert(cat.readVersion("t", 0).count() == 40L) // time-travel intact
  }

  test("merge: whenMatchedDelete drops matched rows; NULL pred means keep") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val (nUpd, nDel, nIns) = cat.merge("t",
      Seq((2L, Option.empty[String]), (3L, Some("c2")), (9L, Some("i")))
        .toDF("id", "v"),
      "id", whenMatchedDelete = Some(col("v").isNull))
    assert((nUpd, nDel, nIns) == (1L, 1L, 1L))
    val m = cat.read("t").as[(Long, Option[String])].collect().toMap
    assert(m == Map(1L -> Some("a"), 3L -> Some("c2"), 9L -> Some("i")))
  }

  test("merge: duplicate source keys refused; duplicate TARGET keys each update") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a"), (1L, "a2"), (2L, "b")).toDF("id", "v"))
    intercept[IllegalArgumentException](
      cat.merge("t", Seq((1L, "x"), (1L, "y")).toDF("id", "v"), "id"))
    val (nUpd, _, _) = cat.merge("t", Seq((1L, "upd")).toDF("id", "v"), "id")
    assert(nUpd == 2L) // both copies of key 1 updated (SQL MERGE per-row)
    assert(cat.read("t").as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "upd"), (1L, "upd"), (2L, "b")))
  }

  test("merge: fully-no-op batch commits nothing") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a")).toDF("id", "v"))
    val v0 = cat.currentVersionNumber("t").get
    // absent keys would INSERT, so the only fully-no-op source is empty
    val empty = Seq((1L, "a")).toDF("id", "v").filter(lit(false))
    assert(cat.merge("t", empty, "id") == ((0L, 0L, 0L)))
    assert(cat.currentVersionNumber("t").get == v0, "no-op merge must not commit")
  }

  test("merge: insert-only batch touches no existing file; composes with append") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a")).toDF("id", "v"))
    cat.append("t", Seq((2L, "b")).toDF("id", "v"))
    val (nUpd, nDel, nIns) = cat.merge("t", Seq((3L, "c")).toDF("id", "v"), "id")
    assert((nUpd, nDel, nIns) == (0L, 0L, 1L))
    assert(cat.read("t").as[(Long, String)].collect().toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "c"))
    cat.compact("t", 1)
    assert(cat.read("t").count() == 3L)
  }

  test("deleteWhere composes with append chains and survives compaction") {
    val cat = freshCatalog()
    cat.write("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    cat.append("t", Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    assert(cat.deleteWhere("t", col("id") === 3L) == 1L)
    assert(cat.read("t").select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    cat.compact("t", 1)
    assert(cat.read("t").select("id").as[Long].collect().toSet == Set(1L, 2L, 4L))
  }

  test("deleteWhereMor: tombstoned reads equal copy-on-write deletes; compaction pays the rewrite") {
    val cat = new Catalog(spark, tempDir("graft-cat").toString)
    val rows = (1L to 40L).map(i => (i, if (i % 4 == 0) "kill" else "keep"))
    cat.write("t", rows.toDF("id", "tag"))
    val before = cat.currentVersionNumber("t").get

    // MOR delete: table version UNTOUCHED (no rewrite), tombstones recorded
    assert(cat.deleteWhereMor("t", col("tag") === "kill", "id") == 10L)
    assert(cat.currentVersionNumber("t").get == before,
      "MOR delete must not rewrite the data table")
    val expect = rows.filter(_._2 == "keep").map(_._1).toSet
    assert(cat.readMor("t").select("id").as[Long].collect().toSet == expect)
    // plain read still sees everything (the debt is visible, not hidden)
    assert(cat.read("t").count() == 40L)

    // a second MOR delete composes via tombstone APPEND
    assert(cat.deleteWhereMor("t", col("id") === 1L, "id") == 1L)
    assert(cat.readMor("t").select("id").as[Long].collect().toSet == expect - 1L)

    // compaction applies tombstones copy-on-write and resets them
    cat.compactMor("t")
    assert(cat.read("t").select("id").as[Long].collect().toSet == expect - 1L)
    assert(cat.read("t__deletes").count() == 0L)
    // post-compaction MOR deletes keep composing
    assert(cat.deleteWhereMor("t", col("id") === 2L, "id") == 1L)
    assert(cat.readMor("t").select("id").as[Long].collect().toSet == expect - 1L - 2L)
    // no tombstones at all → readMor IS read
    val cat2 = new Catalog(spark, tempDir("graft-cat").toString)
    cat2.write("u", Seq((1L, "a")).toDF("id", "v"))
    assert(cat2.readMor("u").count() == 1L)
  }
}
