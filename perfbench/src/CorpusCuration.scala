package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The `examples/training_pipeline.json` shape: parquet docs -> minhash
  * dedup -> PII scrub -> per-source token-budget sample -> split -> chunk ->
  * parquet writer. One-pass operators and shuffles dominate; templates and
  * JSON do nothing here. */
object CorpusCuration extends Workload {
  val name = "corpus_curation"
  val docs = 6000
  val dupShare = 0.10
  val piiShare = 0.02
  val sources = Seq("web" -> 0.40, "books" -> 0.25, "code" -> 0.15, "news" -> 0.12, "wiki" -> 0.08)
  val maxTokens = 64L
  val stride = 48L

  def opRows: Long = docs
  val warmupOps = 3
  val nominalOpS = 3.5

  /** `dupOf` is the original a planted near-duplicate copies. */
  final case class Doc(id: Long, source: String, text: String, dupOf: Option[Long])

  private def gen(seed: Long): Vector[Doc] = {
    val r = new SplittableRandom(seed)
    val vocab = Inputs.vocabulary(r, 4000)
    val zipf = new Inputs.Zipf(vocab.length, 1.1)
    val cum = sources.map(_._2).scanLeft(0.0)(_ + _).tail
    val originals = mutable.HashMap.empty[String, mutable.ArrayBuffer[Doc]]
    Vector.tabulate(docs) { i =>
      val u = r.nextDouble()
      val src = sources(cum.indexWhere(u < _) max 0)._1
      val pool = originals.getOrElseUpdate(src, mutable.ArrayBuffer.empty)
      if (pool.nonEmpty && r.nextDouble() < dupShare) {
        val o = pool(r.nextInt(pool.size))
        // an exact token copy with doubled spacing, or one token appended:
        // both keep shingle Jaccard far above the 0.7 threshold
        val text = if (r.nextBoolean()) o.text.replaceFirst(" ", "  ")
          else o.text + " " + vocab(zipf.sample(r))
        Doc(i.toLong, src, text, Some(o.id))
      } else {
        val toks = Array.fill(30 + r.nextInt(121))(vocab(zipf.sample(r)))
        if (r.nextDouble() < piiShare) toks(r.nextInt(toks.length)) = r.nextInt(3) match {
          case 0 => s"${vocab(r.nextInt(50))}.${vocab(r.nextInt(50))}@mail${r.nextInt(9)}.org"
          case 1 => s"https://site${r.nextInt(99)}.com/p/${r.nextInt(100000)}"
          case _ => f"${r.nextInt(1000000000)}%09d"
        }
        val d = Doc(i.toLong, src, toks.mkString(" "), None)
        pool += d
        d
      }
    }
  }

  private def nTok(text: String): Long = text.trim.split("\\s+").length.toLong

  /** Per-source budget: half the mean per-source token mass after dedup,
    * so the large sources are cut and the smallest fits whole. */
  private def budgetOf(ds: Seq[Doc]): Long =
    ds.filter(_.dupOf.isEmpty).map(d => nTok(d.text)).sum / sources.size / 2

  def generate(in: Path, seed: Long): InputProps = {
    val ds = gen(seed)
    val schema = "message doc { required int64 doc_id; required binary source (UTF8); " +
      "required binary text (UTF8); }"
    val half = ds.size / 2
    val bytes = Seq(ds.take(half), ds.drop(half)).zipWithIndex.map { case (part, k) =>
      Inputs.writeParquet(in.resolve(f"docs/part-$k%05d.parquet"), schema, part.size) { (g, i) =>
        val d = part(i)
        g.add("doc_id", d.id); g.add("source", d.source); g.add("text", d.text)
      }
    }.sum
    val perSource = ds.groupBy(_.source).map { case (s, v) => s -> v.size }
    InputProps(ds.size, bytes, Seq(
      "planted_duplicate_share" -> ds.count(_.dupOf.nonEmpty).toDouble / ds.size,
      "pii_share" -> piiShare, "sources" -> perSource.toSeq.sorted.mkString(","),
      "budget_tokens_per_source" -> budgetOf(ds)))
  }

  def config(in: Path, out: Path, budget: Long): String =
    s"""[
       | {"type": "reader", "connector": {"type": "local", "path": "${in.resolve("docs")}"},
       |  "document": {"type": "parquet"}},
       | {"type": "dedup", "method": "minhash", "id": "doc_id", "field": "text",
       |  "threshold": 0.7, "hashes": 128, "bands": 16, "max_bucket": 64},
       | {"type": "scrub", "fields": ["text"]},
       | {"type": "sample", "budget": $budget, "source_field": "source", "id": "doc_id", "field": "text"},
       | {"type": "split", "by": ["source", "doc_id"], "train": 0.8, "val": 0.1},
       | {"type": "chunk", "id": "doc_id", "field": "text", "max_tokens": $maxTokens, "stride": $stride},
       | {"type": "writer", "connector": {"type": "local", "path": "${out.resolve("clean")}"},
       |  "document": {"type": "parquet"}}
       |]""".stripMargin

  def open(spark: SparkSession, in: Path, work: Path, seed: Long): Runner = {
    val ds = gen(seed)
    val budget = budgetOf(ds)
    val sourceOf = ds.map(d => d.id -> d.source).toMap
    val planted = ds.filter(_.dupOf.nonEmpty).map(_.id).toSet
    // reference: drop the planted copies, then keep each source's longest
    // md5("source-doc_id")-ordered prefix whose token sum fits the budget
    val kept = ds.filter(_.dupOf.isEmpty).groupBy(_.source).values.flatMap { v =>
      var acc = 0L
      v.sortBy(d => (Inputs.hex("MD5", s"${d.source}-${d.id}"), d.id))
        .map(d => (d, nTok(d.text))).takeWhile { case (_, n) => acc += n; acc <= budget }
    }.toVector
    val keptIds = kept.map(_._1.id).toSet
    val refRows = kept.flatMap { case (d, n) =>
      (0L to math.max(n - 1, 0L) by stride).map(s =>
        Seq(d.id, n, s / stride, s, math.min(maxTokens, n - s)).mkString("|"))
    }
    val refDigest = Inputs.digest(refRows.iterator)
    new PipelineRunner(spark, config(in, _, budget), out => {
      val rows = spark.read.parquet(out.resolve("clean").toString)
        .selectExpr("doc_id", "n_tokens", "chunk_id", "start_tok", "chunk_len").collect()
        .map(r => (0 until 5).map(r.getLong))
      val ids = rows.map(_(0)).toSet
      val spent = rows.groupBy(_(0)).toSeq.map { case (id, v) => sourceOf(id) -> v.head(1) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      rows.find(c => c(4) > maxTokens || c(4) <= 0).map(c => s"chunk of ${c(4)} tokens in doc ${c(0)}")
        .orElse((ids & planted).headOption.map(id => s"planted near-duplicate $id kept"))
        .orElse((keptIds -- ids).headOption.map(id => s"unplanted doc $id missing"))
        .orElse((ids -- keptIds).headOption.map(id => s"doc $id kept beyond its source budget"))
        .orElse(spent.find(_._2 > budget).map { case (s, n) => s"source $s spent $n > $budget tokens" })
        .orElse(if (rows.length != refRows.size) Some(s"${rows.length} chunks, expected ${refRows.size}")
          else if (Inputs.digest(rows.iterator.map(_.mkString("|"))) != refDigest)
            Some("chunk digest differs from the reference")
          else None)
    })
  }
}
