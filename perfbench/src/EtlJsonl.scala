package perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws}

/** The chewdata core path: jsonl reader -> referential broadcast lookup ->
  * transformer (SQL and Tera patterns) -> validator (three rules, planted
  * failures) -> parquet ok writer and jsonl err writer. No shuffle and no
  * operator: it stresses `sources` decode/encode and `functions`. */
object EtlJsonl extends Workload {
  val name = "etl_jsonl"
  val records = 80000
  val files = 8
  val regions = 20
  /** Each rule fails on its own planted share of records. */
  val badShare = 0.04

  def opRows: Long = records
  val warmupOps = 4
  val nominalOpS = 1.4

  final case class Rec(id: Long, name: String, title: String, email: String,
                       amount: Long, qty: Long, region: String)

  private def gen(seed: Long): Vector[Rec] = {
    val r = new SplittableRandom(seed)
    val words = Inputs.vocabulary(r, 3000)
    def mixedCase(s: String) = s.map(c => if (r.nextInt(3) == 0) c.toUpper else c)
    Vector.tabulate(records) { i =>
      val name = " " * r.nextInt(3) + mixedCase(words(r.nextInt(words.length))) + " " +
        mixedCase(words(r.nextInt(words.length))) + " " * r.nextInt(3)
      val title = Seq.fill(2 + r.nextInt(5))(words(r.nextInt(words.length)))
        .map(w => if (r.nextInt(4) == 0) w.capitalize + "!" else w).mkString(" ", " - ", s" #${r.nextInt(100)}")
      val host = words(r.nextInt(200))
      val email = if (r.nextDouble() < badShare) s"user$i.$host.org" else s"user$i@$host.org"
      val qty = if (r.nextDouble() < badShare) -r.nextInt(3).toLong else 1L + r.nextInt(20)
      val region = if (r.nextDouble() < badShare) "R99" else f"R${r.nextInt(regions)}%02d"
      Rec(i.toLong, name, title, email, 1L + r.nextInt(1000), qty, region)
    }
  }

  private def label(code: String) = "region-" + code.toLowerCase

  def generate(in: Path, seed: Long): InputProps = {
    val recs = gen(seed)
    val per = (recs.size + files - 1) / files
    val bytes = recs.grouped(per).zipWithIndex.map { case (part, k) =>
      Inputs.writeLines(in.resolve(f"records/part-$k%05d.jsonl"), part.iterator.map { x =>
        s"""{"id":${x.id},"name":${Inputs.q(x.name)},"title":${Inputs.q(x.title)},""" +
          s""""email":${Inputs.q(x.email)},"amount":${x.amount},"qty":${x.qty},"region":"${x.region}"}"""
      })
    }.sum + Inputs.writeLines(in.resolve("regions.jsonl"), (0 until regions).iterator.map { k =>
      val c = f"R$k%02d"
      s"""{"code":"$c","label":"${label(c)}"}"""
    })
    val invalid = recs.count(x => !valid(x)).toDouble / recs.size
    InputProps(recs.size, bytes, Seq("files" -> files, "invalid_share" -> invalid,
      "referential_rows" -> regions))
  }

  private def valid(x: Rec) = x.email.contains("@") && x.qty > 0 && x.region != "R99"

  private def tier(amount: Long) =
    if (amount >= 800) "gold" else if (amount >= 300) "silver" else "bronze"

  private def slug(s: String) =
    s.trim.toLowerCase.replaceAll("[^a-z0-9]+", "-").replaceAll("(^-)|(-$)", "")

  /** The ok row as the check renders it, computed without Spark. */
  private def okRow(x: Rec): String = Seq(x.id.toString, x.name.trim.toUpperCase, slug(x.title),
    Inputs.hex("SHA-256", x.email), tier(x.amount), (x.qty * x.amount).toString,
    label(x.region)).mkString("|")

  private val okCols = Seq("id", "name_up", "slug", "email_sha", "tier", "total", "reg_label")

  def config(in: Path, out: Path): String =
    s"""[
       | {"type": "reader", "connector": {"type": "local", "path": "${in.resolve("records")}"},
       |  "document": {"type": "jsonl"}},
       | {"type": "referential", "name": "reg", "left_on": "region", "right_on": "code",
       |  "connector": {"type": "local", "path": "${in.resolve("regions.jsonl")}"},
       |  "document": {"type": "jsonl"}},
       | {"type": "transformer", "actions": [
       |   {"field": "name_up", "pattern": "{{ input.name | trim | upper }}"},
       |   {"field": "slug", "pattern": "{{ input.title | slugify }}"},
       |   {"field": "email_sha", "pattern": "{{ input.email | sha256 }}"},
       |   {"field": "tier", "pattern": "{% if amount >= 800 %}gold{% elif amount >= 300 %}silver{% else %}bronze{% endif %}"},
       |   {"field": "total", "pattern": "qty * amount"},
       |   {"field": "name", "type": "remove"}]},
       | {"type": "validator", "rules": {
       |   "email_ok": {"pattern": "email like '%@%'", "message": "bad email"},
       |   "qty_pos": {"pattern": "qty > 0", "message": "non-positive qty"},
       |   "region_known": {"pattern": "{%- if reg_label is defined -%} true {%- else -%} false {%- endif -%}",
       |     "message": "unknown region"}}},
       | {"type": "writer", "connector": {"type": "local", "path": "${out.resolve("ok")}"},
       |  "document": {"type": "parquet"}},
       | {"type": "writer", "data_type": "err",
       |  "connector": {"type": "local", "path": "${out.resolve("err")}"},
       |  "document": {"type": "jsonl"}}
       |]""".stripMargin

  def open(spark: SparkSession, in: Path, work: Path, seed: Long): Runner = {
    val recs = gen(seed)
    val ok = recs.filter(valid)
    val okN = ok.size.toLong
    val errN = recs.size.toLong - okN
    val okDigest = Inputs.digest(ok.iterator.map(okRow))
    new PipelineRunner(spark, config(in, _), out => {
      val got = spark.read.parquet(out.resolve("ok").toString)
        .select(concat_ws("|", okCols.map(col): _*)).collect().map(_.getString(0))
      // one jsonl line per err row
      val gotErr = spark.read.text(out.resolve("err").toString).count()
      if (got.length != okN) Some(s"ok rows ${got.length}, expected $okN")
      else if (gotErr != errN) Some(s"err rows $gotErr, expected $errN")
      else if (Inputs.digest(got.iterator) != okDigest) Some("ok-row digest differs from the reference")
      else None
    })
  }
}
