package graft

import graft.ops.OpsUtil
import graft.sources.GraftDocsSource

/** End-to-end row-level operations through the DSv2 catalog
  * (`graft.sources.GraftCatalog`): MERGE INTO with DELETE/UPDATE/INSERT
  * branches, then UPDATE and DELETE statements, all planned as
  * group-based copy-on-write rewrites through the connector's staged
  * TSV commit. The expected table is recomputed row-by-row from the
  * connector's own column generators, so the assertion covers values,
  * not just counts.
  */
class GraftCatalogSpec extends SparkSpec {

  test("MERGE INTO / UPDATE / DELETE rewrite the catalog table copy-on-write") {
    OpsUtil.withScratchCatalog(spark, "rl") { (rl, wh) =>
      // seed rows [0,30) from the generative personality via CTAS — the
      // catalog's createTable + the connector's batch write in one step
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .writeTo(s"$rl.corpus").create()
      assert(spark.table(s"$rl.corpus").count() == 30)

      // source rows [20,40): overlap [20,30) matches, [30,40) inserts
      import org.apache.spark.sql.functions._
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "40").load()
        .filter(col("doc_id") >= 20)
        .withColumn("title", concat(lit("upd-"), col("doc_id")))
        .withColumn("n_words", (col("n_words") + 100).cast("int"))
        .createOrReplaceTempView("doc_updates")

      spark.sql(s"""
        MERGE INTO $rl.corpus t
        USING doc_updates s
        ON t.doc_id = s.doc_id
        WHEN MATCHED AND s.doc_id % 5 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET title = s.title, n_words = s.n_words
        WHEN NOT MATCHED THEN INSERT *
      """)
      spark.sql(s"UPDATE $rl.corpus SET n_words = 0 WHERE doc_id < 5")
      spark.sql(s"DELETE FROM $rl.corpus WHERE doc_id >= 35")

      // expected, from the connector's own deterministic generators:
      //   0..19 untouched (0..4 then zeroed by UPDATE), 20/25 deleted by
      //   the merge's DELETE branch, 21..34 (sans 25) upd-titled +100,
      //   35..39 inserted then removed by the final DELETE
      val expected = (0L until 35L).flatMap { i =>
        if (i == 20L || i == 25L) None
        else if (i < 5L) Some((i, GraftDocsSource.title(i), GraftDocsSource.fp(i), 0))
        else if (i < 20L) Some((i, GraftDocsSource.title(i), GraftDocsSource.fp(i), GraftDocsSource.nWords(i)))
        else Some((i, s"upd-$i", GraftDocsSource.fp(i), GraftDocsSource.nWords(i) + 100))
      }
      val got = spark.table(s"$rl.corpus").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      assert(got == expected)

      // the _file metadata column reads like Iceberg's: hidden from *,
      // selectable by name, valued with the part file of each row
      val files = spark.sql(s"SELECT DISTINCT _file FROM $rl.corpus")
        .collect().map(_.getString(0)).toSeq
      assert(files.nonEmpty &&
        files.forall(_.matches(graft.sources.GraftFiles.partFileRegex)))
      assert(!spark.table(s"$rl.corpus").columns.contains("_file"))

      // per-FILE copy-on-write: a one-row UPDATE must rewrite ONLY the
      // file holding that row — every other part file stays byte-identical
      // (runtime group filtering on _file, scoped commit)
      val tableDir = wh.resolve("corpus").toFile
      def partBytes(): Map[String, Seq[Byte]] = tableDir.listFiles()
        .filter(_.getName.matches(graft.sources.GraftFiles.partFileRegex))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
      val before = partBytes()
      assert(before.size > 1, "need >1 part file to prove scoped rewrite")
      val victimFile = spark.sql(
        s"SELECT _file FROM $rl.corpus WHERE doc_id = 10").head().getString(0)
      spark.sql(s"UPDATE $rl.corpus SET n_words = 999 WHERE doc_id = 10")
      val after = partBytes()
      assert(!after.contains(victimFile),
        s"$victimFile should have been replaced, still present")
      for ((name, bytes) <- before if name != victimFile)
        assert(after.get(name).contains(bytes),
          s"untouched file $name was rewritten — group scope not applied")
      assert(spark.sql(s"SELECT n_words FROM $rl.corpus WHERE doc_id = 10")
        .head().getInt(0) == 999)
      // undo so the value-level expectations below stay exact
      spark.sql(s"UPDATE $rl.corpus SET n_words = ${GraftDocsSource.nWords(10L)} WHERE doc_id = 10")
      val got2 = spark.table(s"$rl.corpus").orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      assert(got2 == expected)

      // SQL INSERT INTO appends through the ordinary batch write
      spark.sql(s"INSERT INTO $rl.corpus VALUES (100, 'doc-ins', 7, 11)")
      assert(spark.sql(s"SELECT * FROM $rl.corpus WHERE doc_id = 100").count() == 1)
      spark.sql(s"DELETE FROM $rl.corpus WHERE doc_id = 100")
      assert(spark.table(s"$rl.corpus").count() == 33)

      // SQL TRUNCATE TABLE is metadata-only (TruncatableTable): all part
      // files dropped, table readable and refillable afterwards
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "3").load()
        .createOrReplaceTempView("q_trunc_seed")
      spark.sql(s"CREATE TABLE $rl.scratch AS SELECT * FROM q_trunc_seed")
      assert(spark.table(s"$rl.scratch").count() == 3)
      spark.sql(s"TRUNCATE TABLE $rl.scratch")
      assert(spark.table(s"$rl.scratch").count() == 0)
      spark.sql(s"INSERT INTO $rl.scratch SELECT * FROM q_trunc_seed")
      assert(spark.table(s"$rl.scratch").count() == 3)
      spark.sql(s"DROP TABLE $rl.scratch")

      // the round-8 virtual personality coexists in the same catalog
      // (q136's storage-partitioned join reads it as rl.docs here)
      assert(spark.table(s"$rl.docs").count() == 20000)

      // catalog surface: list / rename / drop round-trip (the virtual
      // docs entry is always listed alongside warehouse tables)
      val cat = spark.sessionState.catalogManager.catalog(rl)
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      import org.apache.spark.sql.connector.catalog.Identifier
      assert(cat.listTables(Array.empty).map(_.name()).toSet ==
        Set("docs", "corpus"))
      cat.renameTable(Identifier.of(Array.empty, "corpus"),
        Identifier.of(Array.empty, "corpus2"))
      assert(spark.table(s"$rl.corpus2").count() == 33)
      assert(cat.dropTable(Identifier.of(Array.empty, "corpus2")))
      assert(cat.listTables(Array.empty).map(_.name()).toSet == Set("docs"))

      // warehouse containment: identifier components that would resolve
      // outside the warehouse (backquoted SQL idents can contain anything)
      // are rejected BEFORE any filesystem action — a traversal ident must
      // never reach DROP's deleteDirectory or RENAME's move
      withTempDir("graft_cat_victim") { outside =>
        java.nio.file.Files.writeString(outside.resolve("keep.txt"), "x")
        val escape = outside.getFileName.toString
        for (ident <- Seq(
            Identifier.of(Array(".."), escape),
            Identifier.of(Array.empty, s"../$escape"),
            Identifier.of(Array("a", ".."), ".."),
            Identifier.of(Array.empty, "..")))
          intercept[IllegalArgumentException] { cat.dropTable(ident) }
        intercept[IllegalArgumentException] {
          cat.renameTable(Identifier.of(Array.empty, "docs2"),
            Identifier.of(Array(".."), escape))
        }
        assert(java.nio.file.Files.exists(outside.resolve("keep.txt")),
          "traversal identifier escaped the warehouse and touched a victim dir")
      }
    }
  }

  private def partBytesOf(dir: java.io.File): Map[String, Seq[Byte]] =
    dir.listFiles()
      .filter(_.getName.matches(graft.sources.GraftFiles.partFileRegex))
      .map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

  test("two concurrent MERGEs with disjoint file scopes both commit; files outside both scopes stay byte-identical") {
    OpsUtil.withScratchCatalog(spark, "rlc") { (rlc, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .repartition(6) // several part files so two scopes can be disjoint
        .writeTo(s"$rlc.corpus").create()
      val tableDir = wh.resolve("corpus").toFile
      val before = partBytesOf(tableDir)
      assert(before.size >= 3, "need >=3 part files for two disjoint scopes")
      // pick two victims living in DIFFERENT part files
      val fileOf = spark.sql(s"SELECT doc_id, _file FROM $rlc.corpus")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val vA = 3L
      val vB = fileOf.collectFirst {
        case (id, f) if f != fileOf(vA) => id }.get
      assert(fileOf(vA) != fileOf(vB))
      import spark.implicits._
      Seq(vA).toDF("doc_id").createOrReplaceTempView("merge_src_a")
      Seq(vB).toDF("doc_id").createOrReplaceTempView("merge_src_b")
      // run both merges CONCURRENTLY: per-file copy-on-write with disjoint
      // scopes means neither commit invalidates the other's replacement set
      // (the lakehouse claim behind file-granular COW). The connector has
      // no MVCC, so this is the strongest concurrency it promises.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      val fa = Future(spark.sql(
        s"""MERGE INTO $rlc.corpus t USING merge_src_a s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET n_words = 777""".stripMargin))
      val fb = Future(spark.sql(
        s"""MERGE INTO $rlc.corpus t USING merge_src_b s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET n_words = 888""".stripMargin))
      Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
      // both committed
      val got = spark.table(s"$rlc.corpus")
        .selectExpr("doc_id", "n_words").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got(vA) == 777, s"merge A lost: ${got(vA)}")
      assert(got(vB) == 888, s"merge B lost: ${got(vB)}")
      assert(got.size == 30)
      // every part file outside the two rewritten scopes is bit-for-bit
      // untouched by either commit
      val after = partBytesOf(tableDir)
      for ((name, bytes) <- before
           if name != fileOf(vA) && name != fileOf(vB))
        assert(after.get(name).contains(bytes),
          s"file $name outside both merge scopes was rewritten")
      assert(!after.contains(fileOf(vA)) && !after.contains(fileOf(vB)),
        "rewritten scopes should carry replacement (suffixed) names")
    }
  }

  test("a rewrite that fails mid-write aborts cleanly: staging removed, table byte-identical") {
    OpsUtil.withScratchCatalog(spark, "rla") { (rla, wh) =>
      spark.read.format("graft.sources.GraftDocsSource")
        .option("rows", "30").load()
        .writeTo(s"$rla.corpus").create()
      val tableDir = wh.resolve("corpus").toFile
      val before = partBytesOf(tableDir)
      // raise_error throws inside the rewrite tasks AFTER the scan has
      // matched and staging has begun — Spark aborts the batch write, which
      // must tear down staged files and never touch the committed parts
      intercept[Exception] {
        spark.sql(s"""UPDATE $rla.corpus
                    |SET n_words = CAST(raise_error('planted abort') AS INT)
                    |WHERE doc_id < 5""".stripMargin)
      }
      assert(partBytesOf(tableDir) == before,
        "aborted rewrite modified committed part files")
      assert(!new java.io.File(tableDir, "_staging").exists(),
        "aborted rewrite left staged files behind")
      // the table remains fully operational after the abort
      spark.sql(s"UPDATE $rla.corpus SET n_words = 5 WHERE doc_id = 0")
      assert(spark.sql(s"SELECT n_words FROM $rla.corpus WHERE doc_id = 0")
        .head().getInt(0) == 5)
    }
  }
}
