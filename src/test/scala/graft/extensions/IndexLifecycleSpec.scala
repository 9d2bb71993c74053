package graft.extensions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The lifecycle every family shares ([[IndexFamily.save]],
  * [[IndexFamily.load]], extend and remove): an in-place upgrade
  * round-trips, an unrelated save over a stamped or corrupt-stamped tree
  * is refused, a load reads no schema, and removing what was just added
  * restores the index. */
class IndexLifecycleSpec extends AnyFunSuite {
  import IndexLifecycleSpec.contents
  private lazy val spark = TestSpark.spark

  private def docs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "documents")
    .select(col("doc_id"), col("text"))
  private def vecs = graft.sources.Tables.load(spark, TestSpark.Sf0001, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** (base rows, extension rows, id column, content column). */
  private def data(fam: IndexFamily[_ <: Versioned]): (DataFrame, DataFrame, String, String) =
    if (fam.imageType == StringType)
      (docs.filter(col("doc_id") < 100),
        docs.filter(col("doc_id").between(100, 149)), "doc_id", "text")
    else
      (vecs.filter(col("vec_id") < 200),
        vecs.filter(col("vec_id").between(200, 259)), "vec_id", "embedding")

  /** Non-default hyperparameters that keep the fixture's fits small. */
  private val hyper: Map[String, Map[String, Any]] = Map(
    "ivf" -> Map("nlist" -> 4),
    "ivfpq" -> Map("nlist" -> 4, "m" -> 8, "ksub" -> 8),
    "pq" -> Map("m" -> 8, "ksub" -> 8))

  private def fit[I <: Versioned](fam: IndexFamily[I], df: DataFrame): I = {
    val (_, _, idCol, contentCol) = data(fam)
    fam.fit(df, idCol, contentCol, hyper.getOrElse(fam.name, Map.empty))
  }

  private def saved(fam: IndexFamily[_ <: Versioned]): String = {
    val dir = TestSpark.tmpDir(s"graft-lifecycle-${fam.name}")
    def go[I <: Versioned](f: IndexFamily[I]): Unit = { f.save(fit(f, data(f)._1), dir); () }
    go(fam)
    dir
  }

  /** Jobs a load may start: a `head` of the parameter table, and the
    * codebook collect of the PQ families. */
  private val loadJobs = Map("ivf" -> 0, "embedding" -> 1, "lsh" -> 1, "bm25" -> 1,
    "text" -> 1, "pq" -> 2, "ivfpq" -> 2)

  IndexFamily.all.foreach { fam =>
    test(s"${fam.name}: extend(load(d)).save(d) upgrades the tree in place") {
      def check[I <: Versioned](f: IndexFamily[I]): Unit = {
        val dir = saved(f)
        val (_, more, idCol, contentCol) = data(f)
        val v1 = contents(f, f.load(spark, dir))
        val ext = f.extend(f.load(spark, dir), more, idCol, contentCol)
        val want = contents(f, ext)
        assert(want != v1, "the extension must change the index")
        val out = f.save(ext, dir)
        assert(out.version == 2L && out.savedDir.contains(dir))
        assert(IndexMeta.read(spark, dir).map(_.version).contains(2L))
        assert(!new java.io.File(dir).list().exists(_.endsWith("__stage")),
          "the save must leave no stage directory behind")
        assert(contents(f, out) == want, "the returned handle reads the saved tree")
        val reloaded = f.load(spark, dir)
        assert(reloaded.version == 2L)
        assert(contents(f, reloaded) == want, "a fresh load reads the extended tree")
        assert(f.params(reloaded) == f.params(ext))
        f.close(reloaded)
      }
      check(fam)
    }

    test(s"${fam.name}: saving an unrelated fit over a stamped tree is refused") {
      def check[I <: Versioned](f: IndexFamily[I]): Unit = {
        val dir = saved(f)
        val before = contents(f, f.load(spark, dir))
        val err = intercept[IllegalArgumentException](f.save(fit(f, data(f)._1), dir))
        assert(err.getMessage.contains("save refused"))
        val kept = f.load(spark, dir)
        assert(kept.version == 1L)
        assert(contents(f, kept) == before, "the refused save must leave the tree intact")
        f.close(kept)
      }
      check(fam)
    }

    test(s"${fam.name}: a corrupt stamp refuses every save until it is cleared") {
      def check[I <: Versioned](f: IndexFamily[I]): Unit = {
        val dir = saved(f)
        // a truncated stamp, written through the Hadoop FS so its checksum
        // file stays in step
        val p = new org.apache.hadoop.fs.Path(dir, IndexMeta.FileName)
        val w = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
        try w.write("""{"version": 1, "fol""".getBytes) finally w.close()
        val err = intercept[IllegalArgumentException](f.save(fit(f, data(f)._1), dir))
        assert(err.getMessage.contains("save refused") &&
          err.getMessage.contains("UNREADABLE"), err.getMessage)
        assert(IndexMeta.clearCorruptStamp(spark, dir))
        val out = f.save(fit(f, data(f)._1), dir)
        assert(IndexMeta.read(spark, dir).map(_.version).contains(out.version))
        f.close(out)
      }
      check(fam)
    }

    test(s"${fam.name}: remove(extend(ix, B), B) restores ix") {
      def check[I <: Versioned](f: IndexFamily[I]): Unit = {
        val (base, more, idCol, contentCol) = data(f)
        val ix = fit(f, base)
        val back = f.remove(f.extend(ix, more, idCol, contentCol), more, idCol, contentCol)
        assert(back.version == ix.version + 2)
        assert(contents(f, back) == contents(f, ix))
        assert(f.params(back) == f.params(ix))
      }
      check(fam)
    }

    test(s"${fam.name}: a load starts no schema-inference job") {
      val dir = saved(fam)
      val (ix, sites) = TestSpark.jobSites(fam.load(spark, dir))
      info(s"${sites.size} job(s): $sites")
      assert(!sites.exists(_.startsWith("parquet at")), s"schema inference in $sites")
      assert(sites.size <= loadJobs(fam.name), s"jobs $sites")
      assert(ix.version == 1L)
    }
  }

  /** Each family's quantizer tables, which a save writes as one file. */
  private val quantizerTables = Map("ivf" -> Seq("centers"),
    "ivfpq" -> Seq("centers", "codebooks"), "pq" -> Seq("codebooks"))

  /** The saved layout: every `cell=*` directory of a cell-partitioned
    * relation holds one file, and so does each quantizer table. */
  private def assertLayout[I <: Versioned](f: IndexFamily[I], ix: I, dir: String): Unit = {
    val files = TestSpark.parquetFiles(dir)
    f.relations(ix).filter(_.byCell).foreach { r =>
      val cells = files.filter(_._1.startsWith(s"${r.name}/cell="))
      assert(cells.nonEmpty && cells.values.forall(_ == 1), s"${r.name}: $cells")
      assert(!files.contains(r.name), s"${r.name} holds files outside its cells")
    }
    quantizerTables(f.name).foreach(t => assert(files.get(t).contains(1), s"$t: $files"))
  }

  Seq[IndexFamily[_ <: Versioned]](IndexFamily.Ivf, IndexFamily.IvfPq, IndexFamily.Pq)
    .foreach { fam =>
      test(s"${fam.name}: a save writes one file per cell and per quantizer table, " +
        "fitted and folded") {
        def check[I <: Versioned](f: IndexFamily[I]): Unit = {
          val (base, more, idCol, contentCol) = data(f)
          val dir = TestSpark.tmpDir(s"graft-layout-${f.name}")
          assertLayout(f, f.save(fit(f, base), dir), dir)
          // a fold as the maintenance loop runs it: retire, add, save in place
          val folded = f.save(f.extend(f.remove(f.load(spark, dir),
            base.filter(col(idCol) < 50), idCol, contentCol), more, idCol, contentCol), dir)
          assertLayout(f, folded, dir)
          f.close(folded)
        }
        check(fam)
      }
    }

  test("an index whose every id was removed saves and loads as before") {
    // PQ's codes relation is unpartitioned; IVF's and IVF-PQ's relations
    // are cell-partitioned, where an empty one holds no cell directory
    Seq[IndexFamily[_ <: Versioned]](IndexFamily.Pq, IndexFamily.Ivf, IndexFamily.IvfPq)
      .foreach { f => roundTripsEmpty(f, TestSpark.tmpDir(s"graft-empty-${f.name}")) }
  }

  private def roundTripsEmpty[I <: Versioned](f: IndexFamily[I], dir: String): Unit = {
    val (base, _, idCol, contentCol) = data(f)
    val emptied = f.save(f.remove(fit(f, base), base, idCol, contentCol), dir)
    val reloaded = f.load(spark, dir)
    // the id-keyed relations are empty; the quantizer tables stay
    assert(f.relations(reloaded).filter(r => Set("assigned", "codes", "vectors")(r.name))
      .forall(_.frame.isEmpty), f.name)
    assert(contents(f, reloaded) == contents(f, emptied), f.name)
  }

  test("extending a loaded IVF index starts no job") {
    val dir = saved(IndexFamily.Ivf)
    val loaded = Similarity.loadIvfIndex(spark, dir)
    val more = data(IndexFamily.Ivf)._2
    val (_, sites) = TestSpark.jobSites(
      IndexFamily.Ivf.extend(loaded, more, "vec_id", "embedding"))
    assert(sites.isEmpty, s"extend started $sites")
  }
}

object IndexLifecycleSpec {

  /** Every relation's rows, columns by name, as a sorted multiset. */
  def contents[I <: Versioned](fam: IndexFamily[I], ix: I): Map[String, Seq[String]] =
    fam.relations(ix).map { r =>
      r.name -> r.frame.select(r.frame.columns.sorted.map(col).toIndexedSeq: _*).collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case x => x
        }.mkString("|")).toSeq.sorted
    }.toMap
}
