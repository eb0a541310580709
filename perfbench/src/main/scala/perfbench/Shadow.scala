package perfbench

import java.net.URLEncoder
import java.net.http.HttpResponse

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.WhisperDB

/** One node of the generated snapshot, as the client knows it. */
final case class SNode(id: Long, title: String, course: Int, subject: String,
                       author: String, date: String, tags: Vector[String],
                       links: Vector[Long], emb: Array[Float])

/** The generated snapshot as the client knows it (see gen_snapshot.py). */
final class Model(val nodes: Vector[SNode]) {
  val byId: Map[Long, SNode] = nodes.map(n => n.id -> n).toMap
  val ids: Vector[Long] = nodes.map(_.id)

  /** Connected components over the link graph: (count, largest size).
    * Like `EnrichService.getClusters`, a link counts as an edge only
    * when it is listed on its lower-id end.
    */
  lazy val components: (Int, Int) = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.foreach(n => n.links.filter(l => l > n.id && byId.contains(l)).foreach { l =>
      val (a, b) = (find(n.id), find(l))
      if (a != b) parent(a) = b
    })
    val sizes = ids.groupBy(find).values.map(_.size)
    (sizes.size, sizes.max)
  }
}

/** Expected state of the served snapshot plus the client's own writes;
  * `request` draws the next request of a kind and `check` judges its
  * response. Ids come from the engine's allocator semantics: the
  * smallest free id at or above a process counter that starts at 1 and
  * never rewinds (`WhisperDB.nextId`).
  */
final class Shadow(model: Model) {
  import Shadow._

  private val live = mutable.TreeMap.empty[Long, SNode] ++ model.nodes.map(n => n.id -> n)
  private var counter = 1L
  private val recent = mutable.ArrayBuffer.empty[Long]
  private var expect: HttpResponse[String] => Option[String] = _ => None
  private var created = 0

  private def pickId(rng: Random): Long = {
    // 80% of lookups go to a hot set of 500 snapshot ids
    val ids = model.ids
    var id = 0L
    do id = if (rng.nextDouble() < 0.8) ids(Zipf(500, rng)) else ids(rng.nextInt(ids.size))
    while (!live.contains(id))
    id
  }

  private def recentOr(rng: Random, alive: Boolean): Long = {
    val pool = if (alive) recent.filter(live.contains) else recent
    if (pool.nonEmpty && rng.nextBoolean()) pool(rng.nextInt(pool.size)) else pickId(rng)
  }

  private def filter(rng: Random): (String, String, SNode => Boolean) =
    rng.nextInt(4) match {
      case 0 => val v = Subjects(Zipf(Subjects.size, rng)); ("subject", v, _.subject == v)
      case 1 => val v = Authors(Zipf(Authors.size, rng)); ("author", v, _.author == v)
      case 2 => val v = 1 + Zipf(Courses, rng); ("course", v.toString, _.course == v)
      case _ => val v = Tags(Zipf(Tags.size, rng)); ("tag", v, _.tags.contains(v))
    }

  def request(kind: String, rng: Random): Req = kind match {
    case "get_node" =>
      val id = recentOr(rng, alive = false)
      live.get(id) match {
        case Some(n) => expect = r => status(r, 200).orElse(sameNode(json(r).get("node"), n))
        case None => expect = r => status(r, 404)
      }
      Req("GET", s"/api/nodes/$id")
    case "list_nodes" =>
      val (k, v, pred) = filter(rng)
      val sort = SortFields(rng.nextInt(SortFields.size))
      val asc = rng.nextBoolean()
      val offset = 20 * rng.nextInt(3)
      val want = live.values.filter(pred).toVector
        .sortWith(order(sort, asc)).slice(offset, offset + 20).map(_.id)
      expect = r => status(r, 200).orElse {
        val got = ids(json(r).get("nodes"))
        if (got == want) None else Some(s"page ${got.take(5)}… != ${want.take(5)}…")
      }
      Req("GET", s"/api/nodes?$k=${enc(v)}&sort=$sort&order=${if (asc) "asc" else "desc"}" +
        s"&limit=20&offset=$offset")
    case "count_nodes" =>
      val (k, v, pred) = filter(rng)
      val want = live.values.count(pred)
      expect = r => status(r, 200).orElse(same("count", json(r).get("count").asLong, want))
      Req("GET", s"/api/nodes/count?$k=${enc(v)}")
    case "nodes_by_tag" =>
      // uniform over the vocabulary: the skewed tags stay in the list
      // and count filters, whose response size does not grow with them
      val tag = Tags(rng.nextInt(Tags.size))
      val want = live.values.filter(_.tags.contains(tag)).map(_.id).toSet
      expect = r => status(r, 200).orElse {
        val got = ids(json(r).get("nodes")).toSet
        if (got == want) None else Some(s"${got.size} ids != ${want.size} expected")
      }
      Req("GET", s"/api/tags/${enc(tag)}/nodes")
    case "similar" =>
      var id = pickId(rng)
      while (live(id).emb == null) id = pickId(rng)
      val q = live(id).emb
      val sims = live.values.filter(n => n.id != id && n.emb != null)
        .map(n => n.id -> cosine(q, n.emb)).toMap
      val best = sims.values.max
      expect = r => status(r, 200).orElse {
        val got = json(r).get("similarNodes")
        val pairs = (0 until got.size).map(i =>
          got.get(i).get("id").asLong -> got.get(i).get("similarity").asDouble)
        if (pairs.size != math.min(10, sims.size)) Some(s"${pairs.size} neighbours")
        else if (math.abs(pairs.head._2 - best) > 1e-5) Some(s"top ${pairs.head} != $best")
        else pairs.collectFirst {
          case (n, s) if !sims.get(n).exists(c => math.abs(c - s) <= 1e-5) => s"sim of $n: $s"
        }.orElse(if (pairs.map(-_._2) == pairs.map(-_._2).sorted) None else Some("unsorted"))
      }
      Req("GET", s"/api/nodes/$id/similar")
    case "clusters" =>
      val (n, largest) = model.components
      expect = r => status(r, 200).orElse {
        val j = json(r)
        same("clusters", j.get("count").asLong, n).orElse(
          same("largest", j.get("clusters").get(0).get("size").asLong, largest))
      }
      Req("GET", "/api/clusters")
    case "create_node" =>
      var id = counter
      while (live.contains(id)) id += 1
      created += 1
      val n = SNode(id, s"Created note $created", 1 + Zipf(Courses, rng),
        Subjects(Zipf(Subjects.size, rng)), Authors(Zipf(Authors.size, rng)),
        f"2025-01-${1 + created % 28}%02d 12:00:00",
        Vector.fill(1 + rng.nextInt(2))(Tags(Zipf(Tags.size, rng))).distinct, Vector.empty, null)
      expect = r => status(r, 201).orElse {
        val got = json(r).get("nodeId")
        if (got == null) Some(s"no nodeId: ${r.body.take(200)}")
        else same("nodeId", got.asText.toLong, id)
      }.orElse { live(id) = n; counter = id + 1; recent += id; None }
      Req("POST", "/api/nodes", s"""{"title":${Js.str(n.title)},"author":${Js.str(n.author)},""" +
        s""""subject":${Js.str(n.subject)},"course":${n.course},"date":${Js.str(n.date)},""" +
        s""""description":"written by the benchmark","tags":${n.tags.map(Js.str).mkString("[", ",", "]")}}""")
    case "update_node" =>
      val id = recentOr(rng, alive = true)
      val n = live(id).copy(title = s"${live(id).title} (rev ${rng.nextInt(1000)})",
        tags = Vector(Tags(Zipf(Tags.size, rng))))
      expect = r => status(r, 200).orElse(sameNode(json(r).get("node"), n))
        .orElse { live(id) = n; recent += id; None }
      Req("PUT", s"/api/nodes/$id",
        s"""{"title":${Js.str(n.title)},"tags":[${Js.str(n.tags.head)}]}""")
    case "delete_node" =>
      val id = recentOr(rng, alive = true)
      expect = r => status(r, 200).orElse(same("deletedId", json(r).get("deletedId").asText.toLong, id))
        .orElse { live.remove(id); recent += id; None }
      Req("DELETE", s"/api/nodes/$id")
  }

  /** None when the response to the last request matches the model,
    * else what differs.
    */
  def check(r: HttpResponse[String]): Option[String] =
    try expect(r) catch { case e: Exception => Some(s"unreadable response: $e") }

  private def status(r: HttpResponse[String], want: Int): Option[String] =
    if (r.statusCode == want) None else Some(s"status ${r.statusCode}: ${r.body.take(200)}")

  private def sameNode(j: JsonNode, n: SNode): Option[String] = {
    val tags = (0 until j.get("tags").size).map(j.get("tags").get(_).asText).toVector
    if (j.get("id").asLong != n.id || j.get("title").asText != n.title ||
        j.get("course").asInt != n.course || tags != n.tags)
      Some(s"node ${j.get("id")} '${j.get("title").asText}' != ${n.id} '${n.title}'")
    else None
  }
}

object Model {
  /** Reads `model.tsv` (one node per line) and `model.emb` (64
    * little-endian float32 per node, same order) from a snapshot dir.
    */
  def load(dir: String): Model = {
    val emb = java.nio.ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "model.emb"))).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val src = scala.io.Source.fromFile(s"$dir/model.tsv", "UTF-8")
    def list(s: String) = if (s.isEmpty) Vector.empty[String] else s.split(",").toVector
    try new Model(src.getLines().map { line =>
      val f = line.split("\t", -1)
      SNode(f(0).toLong, f(1), f(2).toInt, f(3), f(4), f(5), list(f(6)), list(f(7)).map(_.toLong),
        Array.fill(64)(emb.getFloat()))
    }.toVector)
    finally src.close()
  }
}

object Shadow {
  // value vocabularies of gen_snapshot.py
  val Subjects: Vector[String] = Vector("Mathematics", "Physics", "Chemistry", "Biology",
    "History", "Literature", "Economics", "Computing")
  val Authors: Vector[String] = Vector.tabulate(40)(i => f"Author_$i%02d")
  val Courses = 12
  val Tags: Vector[String] = Vector.tabulate(120)(i => f"tag$i%03d")
  val SortFields: Vector[String] = Vector("id", "title", "date", "author", "course")
  private val mapper = new ObjectMapper()

  /** Logical-plan node count of the served node table. */
  def planNodes(db: WhisperDB): Int = db.nodes.queryExecution.logical.collect { case p => p }.size

  /** One cycle of kinds, each as often as its weight, in smooth
    * weighted round-robin order: every prefix holds each kind within
    * one op of its share.
    */
  def smoothOrder(mix: Seq[(String, Int)]): Seq[String] = {
    val credit = mutable.ArrayBuffer.fill(mix.size)(0)
    val total = mix.map(_._2).sum
    Seq.fill(total) {
      mix.indices.foreach(i => credit(i) += mix(i)._2)
      val i = mix.indices.maxBy(credit)
      credit(i) -= total
      mix(i)._1
    }
  }

  /** A rank in [0, k) with P(rank r) proportional to 1 / (r + 1). */
  object Zipf {
    private val cdfs = mutable.Map.empty[Int, Array[Double]]
    def apply(k: Int, rng: Random): Int = {
      val cdf = cdfs.synchronized(cdfs.getOrElseUpdate(k, {
        val w = (1 to k).map(1.0 / _).scanLeft(0.0)(_ + _).tail
        w.map(_ / w.last).toArray
      }))
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(k - 1, if (i >= 0) i else -i - 1)
    }
  }

  def order(field: String, asc: Boolean): (SNode, SNode) => Boolean = { (a, b) =>
    val c = field match {
      case "title" => a.title.compareTo(b.title)
      case "date" => a.date.compareTo(b.date)
      case "author" => a.author.compareTo(b.author)
      case "course" => Integer.compare(a.course, b.course)
      case _ => 0
    }
    val k = if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    if (asc) k < 0 else k > 0
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")
  private def json(r: HttpResponse[String]): JsonNode = mapper.readTree(r.body)
  private def ids(arr: JsonNode): Vector[Long] =
    (0 until arr.size).map(arr.get(_).get("id").asLong).toVector
  private def same(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what $got != $want")
}
