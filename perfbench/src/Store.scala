package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Reads a written store back and compares it with the [[Model]]; also the
  * search-side expectations (token-table size, search hits).
  */
object Store {
  val SearchFields: Map[String, Seq[String]] = Map("CL" -> Seq("label", "hasExactSynonym"))

  def tokensDir(out: String): String = s"$out/search/tokens"

  /** Mismatch descriptions between the store under `out` and the model;
    * empty when the store is right.
    */
  def check(spark: SparkSession, out: String, model: Model, search: SearchModel): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def cmp[K, V](what: String, got: => Map[K, V], want: Map[K, V]): Unit =
      scala.util.Try(got).fold(e => problems += s"$what: unreadable: ${e.getMessage.take(200)}", diff(what, _, want))
    def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Unit = if (got != want) {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val diff = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
      problems += s"$what: ${missing.size} missing, ${extra.size} extra, ${diff.size} differ" +
        (missing.headOption ++ extra.headOption ++ diff.headOption).map(k => s" e.g. $k").mkString
    }
    def cmpSet(what: String, got: => Set[String], want: Set[String]): Unit =
      cmp(what, got.map(_ -> true).toMap, want.map(_ -> true).toMap)
    Seq("ontologies" -> model.pass1, "phenotypes" -> model.pass2).foreach { case (pass, m) =>
      cmp(s"$pass/vertices", vertices(spark, s"$out/$pass/vertices"), m.vertices)
      cmp(s"$pass/edges", edges(spark, s"$out/$pass/edges"), m.edges)
      cmpSet(s"$pass/deprecated_terms", lines(spark, s"$out/$pass/deprecated_terms.txt"), m.deprecated)
      cmpSet(s"$pass/edge_labels", lines(spark, s"$out/$pass/edge_labels.txt"), m.edgeLabels)
    }
    cmp("search/tokens rows", Map(0 -> spark.read.parquet(tokensDir(out)).count()), Map(0 -> search.tokenRows))
    problems.toSeq
  }

  def vertices(spark: SparkSession, dir: String): Map[(String, String), Map[String, Seq[String]]] =
    spark.read.parquet(dir).select("id", "number", "attrs").collect().map { r =>
      (r.getString(0), r.getString(1)) -> attrsOf(r, 2)
    }.toMap

  def attrsOf(r: Row, i: Int): Map[String, Seq[String]] =
    if (r.isNullAt(i)) Map.empty
    else r.getMap[String, scala.collection.Seq[String]](i).map { case (k, v) => k -> v.toSeq }.toMap

  def edges(spark: SparkSession, dir: String): Map[(String, String, String, String), String] =
    spark.read.parquet(dir).select("from_id", "from_number", "to_id", "to_number", "label").collect().map { r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getString(4)
    }.toMap

  def lines(spark: SparkSession, dir: String): Set[String] =
    spark.read.text(dir).collect().map(_.getString(0)).toSet

  /** Order-independent digest of every table of a store: row count and the
    * sum of per-row hashes, per table. Equal digests mean equal contents
    * whatever the file layout.
    */
  def digest(spark: SparkSession, out: String): Seq[(String, Long, java.math.BigDecimal)] = {
    val tables = Seq("ontologies", "phenotypes").flatMap { p =>
      Seq(s"$p/vertices" -> "parquet", s"$p/edges" -> "parquet",
        s"$p/deprecated_terms.txt" -> "text", s"$p/edge_labels.txt" -> "text")
    } :+ ("search/tokens" -> "parquet")
    tables.map { case (t, fmt) =>
      val df: DataFrame = spark.read.format(fmt).load(s"$out/$t")
      val cols = df.columns.sorted.map(col).toIndexedSeq
      val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
        .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast("decimal(38,0)"))).head()
      (t, r.getLong(0), r.getDecimal(1))
    }
  }

  /** Bytes of every regular file under `dir`. */
  def bytesUnder(dir: java.nio.file.Path): (Long, Long) = {
    var files = 0L; var bytes = 0L
    val s = java.nio.file.Files.walk(dir)
    try s.forEach { p => if (java.nio.file.Files.isRegularFile(p)) { files += 1; bytes += java.nio.file.Files.size(p) } }
    finally s.close()
    (files, bytes)
  }
}

/** Expected search-side output: the token-table row count and, for each
  * query token, the (key, field, analyzer) hits over CL labels and exact
  * synonyms of the pass-1 kept vertices. Analyzer token rules mirror
  * TextIndex.buildTokenTable; the English stem and accent fold call the
  * program's own pure functions.
  */
final case class SearchModel(tokenRows: Long, hits: Map[String, Set[(String, String, String)]])

object SearchModel {
  def tokens(value: String): Seq[(String, String)] = {
    val ngram = (3 to 4).flatMap(n => (0 to value.length - n).map(i => value.substring(i, i + n))) :+ value
    val words = value.toLowerCase.split("\\s+", -1)
    val edge = words.flatMap { w =>
      val hi = math.max(math.min(w.length, 12), 3)
      (3 to hi).map(n => w.substring(0, math.min(n, w.length))) :+ w
    }
    val stems = words.map(w => graft.functions.PorterStem.stem(graft.functions.AccentFold.fold(w)))
    (ngram.map("n-gram" -> _) ++ edge.map("text_en_no_stem" -> _) ++ Seq("identity" -> value) ++
      stems.map("text_en" -> _)).filter(_._2.nonEmpty)
  }

  def apply(model: Model, queries: Set[String]): SearchModel = {
    var rows = 0L
    val hits = mutable.HashMap.empty[String, mutable.HashSet[(String, String, String)]]
    // TextIndex.search matches the token as given or lowercased
    val byToken = queries.toSeq.flatMap(q => Seq(q -> q, q.toLowerCase -> q))
      .groupBy(_._1).map { case (t, qs) => t -> qs.map(_._2).distinct }
    for (((id, number), attrs) <- model.pass1.vertices; fields <- Store.SearchFields.get(id); field <- fields) {
      val toks = attrs.getOrElse(field, Nil).flatMap(tokens).toSet
      rows += toks.size
      toks.foreach { case (analyzer, tok) =>
        byToken.getOrElse(tok, Nil).foreach(q =>
          hits.getOrElseUpdate(q, mutable.HashSet.empty) += ((number, field, analyzer)))
      }
    }
    SearchModel(rows, queries.map(q => q -> hits.get(q).map(_.toSet).getOrElse(Set.empty)).toMap)
  }
}
