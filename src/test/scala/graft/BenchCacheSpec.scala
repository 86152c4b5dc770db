package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the Bench order-independence contract: every session-shared
  * cache is a [[graft.queries.SharedCache]] declared in
  * [[graft.queries.SharedCaches]] (so it is registered in `builders`), the
  * declared order is dependency order, and each builder memoizes per
  * (session, dir) — otherwise Bench's pre-materialization pass can't keep
  * per-query times free of order-dependent build attribution.
  */
class BenchCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("every shared cache is a SharedCache declared in SharedCaches") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(dir), s"expected sources at $dir")
    import scala.jdk.CollectionConverters._
    val sources = java.nio.file.Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq
    val declaration = "\\bSharedCache\\s*(\\.\\s*twin\\s*)?\\(".r
    sources.foreach { case (file, src) =>
      if (file != "SharedCache.scala")
        assert(!src.contains("TrieMap"),
          s"$file holds a TrieMap: declare the cache in SharedCaches instead")
      if (file != "SharedCache.scala" && file != "SharedCaches.scala")
        assert(declaration.findFirstIn(src).isEmpty,
          s"$file declares a SharedCache: declare it in SharedCaches")
    }
    val names = graft.queries.SharedCaches.builders.map(_._1)
    assert(names == graft.queries.SharedCaches.all.map(_.name))
    // perfbench's shared_cache workload times builders.take(4)
    assert(names == Seq("minhash_pair_graph", "ngram_jaccard_pairs",
      "winnow_pairs", "ppjoin_pairs", "brand_lift", "sem_cents", "sem_assign",
      "dedup_worklist", "kn_doc_bigrams", "kn_bigram_model", "lang_kn_scored",
      "softdedup_weights", "exact_runs_l20", "exact_substr_doc", "mem_windows",
      "mem_windows_k5", "mem_windows_k10", "mem_windows_k20", "gopher_micro",
      "gopher_quality", "tok_word_seed", "bpe_merges", "bpe_dict",
      "wordpiece_merges", "wordpiece_dict", "unigram_dp"))
  }

  test("registry is dependency-ordered: dedup_worklist builds AFTER minhash_pair_graph") {
    // dedup_worklist memoizes THROUGH nearDupPairs; if it built first it
    // would absorb minhash's whole pair-graph build and the bench
    // breakdown would misattribute the cost (Bench builds in Seq order).
    val names = graft.queries.SharedCaches.builders.map(_._1)
    assert(names.indexOf("minhash_pair_graph") < names.indexOf("dedup_worklist"),
      s"dependency order violated in SharedCaches.builders: $names")
    // kn_bigram_model memoizes THROUGH kn_doc_bigrams — same rule
    assert(names.indexOf("kn_doc_bigrams") < names.indexOf("kn_bigram_model"),
      s"dependency order violated in SharedCaches.builders: $names")
  }

  test("registry is dependency-ordered: building an entry builds no later entry but its twin") {
    // A cache that memoizes THROUGH a later-declared one would absorb that
    // cache's whole build, and the bench breakdown would misattribute the
    // cost (Bench builds in declared order). A fresh session starts with
    // every cache unbuilt.
    val s = spark.newSession()
    val all = graft.queries.SharedCaches.all
    all.zipWithIndex.foreach { case (c, i) =>
      c(s, sf)
      assert(c.isBuilt(s, sf), s"${c.name} not built after its call")
      val early = all.drop(i + 1)
        .filter(l => l.isBuilt(s, sf) && !c.twin.contains(l.name))
      assert(early.isEmpty, s"building ${c.name} built later-declared " +
        s"${early.map(_.name).mkString(", ")}: declare them before ${c.name}")
    }
  }

  test("each registered builder memoizes: second call returns the same plan instance") {
    graft.queries.SharedCaches.builders.foreach { case (name, b) =>
      val first = b(spark, sf)
      val second = b(spark, sf)
      assert(first eq second, s"builder $name did not memoize per (session, dir)")
      assert(first.storageLevel.useMemory || first.storageLevel.useDisk,
        s"builder $name result is not persisted")
    }
  }
}
