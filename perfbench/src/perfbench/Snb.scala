package perfbench

import graft.model.{PropertyGraph, SnbLoader}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** LDBC SNB Interactive over `SnbLoader.snb`: the IS1-IS7 short reads and
  * IC1-IC14 complex reads (texts follow `graft.queries.LdbcQueries`, with
  * every fixture constant turned into a parameter), and the INS1-INS8 /
  * DEL1-DEL8 updates of `graft.queries.LdbcUpdates` with fresh ids. */
object Snb {
  val Reads: Seq[(String, String)] = Seq(
    "is1" -> """MATCH (p:Person {id: $person})
      |RETURN p.firstName AS firstName, p.lastName AS lastName,
      |       p.birthday AS birthday, p.locationIP AS locationIP,
      |       p.browserUsed AS browserUsed, p.gender AS gender,
      |       p.creationDate AS creationDate""".stripMargin,
    "is2" -> """MATCH (p:Person {id: $person})<-[:HAS_CREATOR]-(m:Post)
      |RETURN m.id AS postId, m.content AS content, m.creationDate AS creationDate
      |ORDER BY creationDate DESC, postId DESC
      |LIMIT 10""".stripMargin,
    "is3" -> """MATCH (p:Person {id: $person})-[:KNOWS]-(friend:Person)
      |RETURN friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName
      |ORDER BY firstName, lastName, friendId""".stripMargin,
    "is4" -> """MATCH (m:Post {id: $post})
      |RETURN m.creationDate AS creationDate,
      |       coalesce(m.content, m.imageFile) AS summary""".stripMargin,
    "is5" -> """MATCH (m:Post {id: $post})-[:HAS_CREATOR]->(p:Person)
      |RETURN p.id AS personId, p.firstName AS firstName,
      |       p.lastName AS lastName""".stripMargin,
    "is6" -> """MATCH (m:Post {id: $post})<-[:CONTAINER_OF]-(f:Forum)-[:HAS_MODERATOR]->(mo:Person)
      |RETURN f.id AS forumId, f.title AS forumTitle, mo.id AS moderatorId,
      |       mo.firstName AS firstName, mo.lastName AS lastName""".stripMargin,
    "is7" -> """MATCH (m:Post {id: $post})<-[:REPLY_OF]-(c:Comment)-[:HAS_CREATOR]->(author:Person)
      |MATCH (m)-[:HAS_CREATOR]->(op:Person)
      |RETURN c.id AS commentId, c.content AS content,
      |       c.creationDate AS creationDate, author.id AS authorId,
      |       author.firstName AS firstName, author.lastName AS lastName,
      |       size([(op)-[:KNOWS]-(author) | 1]) > 0 AS isKnows
      |ORDER BY creationDate DESC, commentId
      |LIMIT 20""".stripMargin,
    "ic1" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..3]-(friend:Person {firstName: $firstName})
      |WHERE friend.id <> $person
      |RETURN DISTINCT friend.id AS friendId, friend.lastName AS lastName,
      |       friend.birthday AS birthday, friend.creationDate AS creationDate,
      |       friend.gender AS gender, friend.browserUsed AS browserUsed,
      |       friend.locationIP AS locationIP
      |ORDER BY lastName, friendId
      |LIMIT 20""".stripMargin,
    "ic2" -> """MATCH (p:Person {id: $person})-[:KNOWS]-(friend:Person)<-[:HAS_CREATOR]-(m:Post)
      |WHERE m.creationDate < $date
      |RETURN friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName, m.id AS postId,
      |       m.content AS content, m.creationDate AS creationDate
      |ORDER BY creationDate DESC, postId
      |LIMIT 20""".stripMargin,
    "ic3" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..2]-(friend:Person)
      |WHERE friend.id <> $person
      |WITH DISTINCT friend
      |MATCH (friend)<-[:HAS_CREATOR]-(m:Post)-[:IS_LOCATED_IN]->(place:Place)
      |WHERE m.creationDate >= $from AND m.creationDate < $to
      |  AND (place.name = $nation1 OR place.name = $nation2)
      |RETURN friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName, count(m) AS msgCount
      |ORDER BY msgCount DESC, friendId
      |LIMIT 20""".stripMargin,
    "ic4" -> """MATCH (p:Person {id: $person})-[:KNOWS]-(friend:Person)<-[:HAS_CREATOR]-(post:Post)-[:HAS_TAG]->(tag:Tag)
      |WHERE post.creationDate >= $from AND post.creationDate < $to
      |RETURN tag.name AS tagName, count(post) AS postCount
      |ORDER BY postCount DESC, tagName
      |LIMIT 10""".stripMargin,
    "ic5" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..2]-(friend:Person)
      |WHERE friend.id <> $person
      |WITH DISTINCT friend
      |MATCH (friend)<-[:HAS_MEMBER]-(forum:Forum)
      |RETURN forum.id AS forumId, forum.title AS forumTitle,
      |       count(friend) AS memberCount
      |ORDER BY memberCount DESC, forumId
      |LIMIT 20""".stripMargin,
    "ic6" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..2]-(friend:Person)<-[:HAS_CREATOR]-(post:Post)-[:HAS_TAG]->(tag:Tag {name: $tag})
      |WHERE friend.id <> $person
      |WITH DISTINCT post
      |MATCH (post)-[:HAS_TAG]->(otherTag:Tag)
      |WHERE otherTag.name <> $tag
      |RETURN otherTag.name AS tagName, count(post) AS postCount
      |ORDER BY postCount DESC, tagName
      |LIMIT 10""".stripMargin,
    "ic7" -> """MATCH (p:Person {id: $person})<-[:HAS_CREATOR]-(m:Post)<-[:LIKES]-(liker:Person)
      |RETURN liker.id AS likerId, liker.firstName AS firstName,
      |       liker.lastName AS lastName, m.id AS postId,
      |       m.creationDate AS creationDate
      |ORDER BY creationDate DESC, postId, likerId
      |LIMIT 20""".stripMargin,
    "ic8" -> """MATCH (p:Person {id: $person})<-[:HAS_CREATOR]-(m:Post)<-[:REPLY_OF]-(c:Comment)-[:HAS_CREATOR]->(author:Person)
      |RETURN author.id AS authorId, author.firstName AS firstName,
      |       author.lastName AS lastName, c.creationDate AS creationDate,
      |       c.id AS commentId, c.content AS content
      |ORDER BY creationDate DESC, commentId
      |LIMIT 20""".stripMargin,
    "ic9" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..2]-(friend:Person)<-[:HAS_CREATOR]-(m:Post)
      |WHERE friend.id <> $person AND m.creationDate < $date
      |RETURN DISTINCT friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName, m.id AS postId,
      |       coalesce(m.content, m.imageFile) AS summary,
      |       m.creationDate AS creationDate
      |ORDER BY creationDate DESC, postId, friendId
      |LIMIT 20""".stripMargin,
    "ic10" -> """MATCH (p:Person {id: $person})-[:KNOWS*2]-(stranger:Person)
      |WHERE stranger.id <> $person AND NOT EXISTS { MATCH (p)-[:KNOWS]-(stranger) }
      |WITH DISTINCT stranger
      |MATCH (stranger)-[:HAS_INTEREST]->(tag:Tag)
      |RETURN stranger.id AS strangerId, stranger.firstName AS firstName,
      |       stranger.lastName AS lastName, count(tag) AS commonInterests
      |ORDER BY commonInterests DESC, strangerId
      |LIMIT 10""".stripMargin,
    "ic11" -> """MATCH (p:Person {id: $person})-[:KNOWS*1..2]-(friend:Person)-[wa:WORK_AT]->(org:Organisation)
      |WHERE friend.id <> $person AND org.name = $org AND wa.workFrom < $yearLt
      |RETURN DISTINCT friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName, wa.workFrom AS workFrom,
      |       org.name AS orgName
      |ORDER BY workFrom, friendId
      |LIMIT 10""".stripMargin,
    "ic12" -> """MATCH (p:Person {id: $person})-[:KNOWS]-(friend:Person)<-[:HAS_CREATOR]-(c:Comment)-[:REPLY_OF]->(post:Post)-[:HAS_TAG]->(tag:Tag)-[:HAS_TYPE]->(tc:TagClass)
      |WHERE tc.name = $tagClass
      |RETURN friend.id AS friendId, friend.firstName AS firstName,
      |       friend.lastName AS lastName, count(DISTINCT c) AS replyCount
      |ORDER BY replyCount DESC, friendId
      |LIMIT 10""".stripMargin,
    "ic13" -> """MATCH p = shortestPath((p1:Person {id: $person})-[:KNOWS*]-(p2:Person {id: $target}))
      |RETURN length(p) AS pathLength""".stripMargin,
    "ic14" -> """MATCH p = allShortestPaths((p1:Person {id: $person})-[:KNOWS*]-(p2:Person {id: $target}))
      |RETURN length(p) AS pathLength, count(*) AS pathCount""".stripMargin)

  /** The reads of snb_mixed: every short read, and three complex reads of
    * distinct shape — variable-length expand with a property filter (IC1),
    * 2-hop expand joined to tags (IC6) and shortestPath (IC13). The other
    * complex reads repeat these shapes; leaving them out keeps a run within
    * the benchmark's time budget. */
  val MixedReads: Seq[String] =
    Seq("is1", "is2", "is3", "is4", "is5", "is6", "is7", "ic1", "ic6", "ic13")

  /** Row-count bound per read (its LIMIT, or 1 for the point lookups). */
  private val maxRows: Map[String, Int] = Reads.map { case (k, t) =>
    k -> "LIMIT (\\d+)".r.findFirstMatchIn(t).map(_.group(1).toInt).getOrElse(
      if (Set("is1", "is4", "ic13", "ic14")(k)) 1 else Int.MaxValue)
  }.toMap

  val Inserts: Seq[String] = Seq(
    "CREATE (p:Person {id: $newPerson, firstName: 'TestUser', lastName: 'Benchmark', " +
      "gender: 'male', birthday: 100, creationDate: '2024', " +
      "locationIP: '1.2.3.4', browserUsed: 'Firefox'})",
    "MATCH (p:Person {id: $newPerson}), (m:Post {id: $post}) " +
      "CREATE (p)-[:LIKES {creationDate: 1709251200000}]->(m)",
    "MATCH (p:Person {id: $newPerson}), (m:Comment {id: $comment}) " +
      "CREATE (p)-[:LIKES {creationDate: 1709251200000}]->(m)",
    "CREATE (f:Forum {id: $newForum, title: 'Benchmark Forum'})",
    "MATCH (f:Forum {id: $newForum}), (p:Person {id: $person}) " +
      "CREATE (f)-[:HAS_MEMBER {joinDate: 1709251200000}]->(p)",
    "CREATE (m:Post {id: $newPost, imageFile: '', creationDate: '2024-03-01', " +
      "language: 'en', content: 'Benchmark post content', length: 24})",
    "CREATE (c:Comment {id: $newComment, creationDate: '2024-03-01', " +
      "content: 'Benchmark comment', length: 18})",
    "MATCH (p1:Person {id: $person}), (p2:Person {id: $newPerson}) " +
      "CREATE (p1)-[:KNOWS {creationDate: 1709251200000}]->(p2)")

  val Deletes: Seq[String] = Seq(
    "MATCH (p:Person {id: $newPerson}) DETACH DELETE p",
    "MATCH (p:Person {id: $newPerson})-[l:LIKES]->(m:Post {id: $post}) DELETE l",
    "MATCH (p:Person {id: $newPerson})-[l:LIKES]->(c:Comment {id: $comment}) DELETE l",
    "MATCH (f:Forum {id: $newForum}) DETACH DELETE f",
    "MATCH (f:Forum {id: $newForum})-[m:HAS_MEMBER]->(p:Person {id: $person}) DELETE m",
    "MATCH (m:Post {id: $newPost}) DETACH DELETE m",
    "MATCH (c:Comment {id: $newComment}) DETACH DELETE c",
    "MATCH (p1:Person {id: $person})-[k:KNOWS]->(p2:Person {id: $newPerson}) DELETE k")

  /** Parameter sets drawn per seed from value domains of the loaded graph. */
  final class Params(g: PropertyGraph, seed: Long) {
    import SnbLoader.{CommentOff, PostOff}
    private def ids(df: org.apache.spark.sql.DataFrame): IndexedSeq[Long] =
      df.distinct().orderBy(df.columns.head).collect().map(_.getLong(0)).toIndexedSeq
    private def rel(r: String) = g.edges.filter(col("relationship") === r)

    // persons: post authors of the median KNOWS degree among post authors,
    // so that the cost of a person-anchored read varies little with the
    // seed (the LDBC drivers curate parameters for the same reason); then
    // posts with replies, comments, and the value domains
    val persons: IndexedSeq[Long] = {
      val k = rel("KNOWS").select(col("src").as("s"), col("dst").as("d"))
      val deg = k.unionAll(k.select(col("d").as("s"), col("s").as("d")))
        .join(rel("HAS_CREATOR").filter(col("src") >= PostOff && col("src") < CommentOff)
          .select(col("dst").as("s")).distinct(), "s")
        .groupBy(col("s")).agg(count(lit(1)).as("deg"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val median = deg.map(_._2).sorted.apply(deg.length / 2)
      deg.filter(_._2 == median).map(_._1).toIndexedSeq
    }
    val allPersons = ids(g.nodesWithLabel("Person").select(col("id")))
    val posts = ids(rel("REPLY_OF").select(col("dst")))
    val comments = ids(rel("REPLY_OF").select(col("src")).orderBy(col("src")).limit(5000))
    // names per label (first names for Person), in one pass over the nodes
    val Seq(tags, tagClasses, countries, orgs, firstNames) = {
      val labels = Seq("Tag", "TagClass", "Country", "Organisation", "Person")
      val values = g.nodes
        .select(explode(col("labels")).as("label"), coalesce(col("name"), col("firstName")).as("v"))
        .filter(col("label").isin(labels: _*)).distinct().orderBy(col("label"), col("v"))
        .collect().toIndexedSeq.groupBy(_.getString(0)).map { case (l, rs) => l -> rs.map(_.getString(1)) }
      labels.map(values)
    }
    val years: (Int, Int) = {
      val r = g.nodesWithLabel("Post").agg(min(col("creationDate")), max(col("creationDate"))).head()
      (r.getString(0).take(4).toInt, r.getString(1).take(4).toInt)
    }

    private def h(p: Int, stream: Int): Long = Main.mix(seed * 1000003L + p * 8191L + stream)
    private def pick[T](a: IndexedSeq[T], p: Int, stream: Int): T =
      a(java.lang.Math.floorMod(h(p, stream), a.length.toLong).toInt)

    /** Parameter set `p` (every read draws from the same set). */
    def apply(p: Int): Map[String, Any] = {
      val person = pick(persons, p, 1)
      val pi = allPersons.indexOf(person)
      val target = allPersons(if (pi + 8 < allPersons.size) pi + 8 else pi - 8)
      val y = years._1 + 1 + java.lang.Math.floorMod(h(p, 3), math.max(1L, years._2 - years._1 - 1L)).toInt
      // fresh ids, clear of every id space of the projection
      val fresh = 1700000000L + java.lang.Math.floorMod(h(p, 13), 1000000L) * 4
      Map[String, Any](
        "person" -> person, "target" -> target, "post" -> pick(posts, p, 4),
        "comment" -> pick(comments, p, 5), "tag" -> pick(tags, p, 6),
        "tagClass" -> pick(tagClasses, p, 7), "firstName" -> pick(firstNames, p, 8),
        "nation1" -> pick(countries, p, 9), "nation2" -> pick(countries, p, 10),
        "org" -> pick(orgs, p, 11), "yearLt" -> (1995L + java.lang.Math.floorMod(h(p, 12), 20L)),
        "date" -> f"$y%04d-01-01", "from" -> f"${y - 1}%04d-01-01", "to" -> f"${y + 1}%04d-01-01",
        "newPerson" -> fresh, "newForum" -> (fresh + 1), "newPost" -> (fresh + 2),
        "newComment" -> (fresh + 3))
    }
  }

  val Text: Map[String, String] = Reads.toMap

  /** Read `name` through the engine on the graph `g` names when the op runs. */
  def readOp(ctx: Ctx, key: String, name: String, g: => PropertyGraph, params: Map[String, Any]): Op =
    Op(key, "read", () => {
      val rows = ctx.read(Text(name), g, params)
      checkRead(name, rows)
      Digest.rows(rows)
    })

  private def checkRead(name: String, rows: Array[Row]): Unit = {
    Check(rows.length <= maxRows(name), s"$name returned ${rows.length} rows")
    if (name == "is1" || name == "is4" || name == "is5")
      Check(rows.length == 1, s"$name returned ${rows.length} rows, expected 1")
  }
}

/** Reads only: IS1-IS7 twice and IC1-IC14 once per cycle. */
final class SnbRead(ctx: Ctx, dir: String, seed: Long) extends Workload {
  val NParams = 3
  private var g: PropertyGraph = _
  private var params: Snb.Params = _
  private val short = Snb.Reads.map(_._1).filter(_.startsWith("is"))
  private val complex = Snb.Reads.map(_._1).filter(_.startsWith("ic"))

  def load(): Unit = g = SnbLoader.snb(ctx.spark, dir)
  def prepare(): Unit = params = new Snb.Params(g, seed)

  private def readOp(name: String, p: Int): Op = Snb.readOp(ctx, s"$name#$p", name, g, params(p))

  def warmup: Seq[Op] = (short ++ complex).map(readOp(_, 0))

  def cycle(c: Int): Seq[Op] =
    short.map(readOp(_, (2 * c) % NParams)) ++ complex.map(readOp(_, c % NParams)) ++
      short.map(readOp(_, (2 * c + 1) % NParams))
}

/** Reads interleaved with the LDBC updates. One cycle is one net-zero
  * epoch (INS1-8 then DEL1-8) starting from the loaded graph; write i is
  * followed by read i of [[Snb.MixedReads]] on the current mutated graph,
  * and INS1 and DEL1 by a read-your-writes check. The parameter set, fresh
  * ids included, changes from cycle to cycle. */
final class SnbMixed(ctx: Ctx, dir: String, seed: Long) extends Workload {
  val NParams = 3
  private var g0: PropertyGraph = _
  private var g: PropertyGraph = _
  private var params: Snb.Params = _
  private val writes = Snb.Inserts.zipWithIndex.map { case (t, i) => (s"ins${i + 1}", t) } ++
    Snb.Deletes.zipWithIndex.map { case (t, i) => (s"del${i + 1}", t) }

  def load(): Unit = g0 = SnbLoader.snb(ctx.spark, dir)
  def prepare(): Unit = params = new Snb.Params(g0, seed)

  private def epoch(p: Int): Seq[Op] = {
    val prm = params(p)
    writes.zipWithIndex.flatMap { case ((name, text), wi) =>
      val write = Op(s"$name#$p", "write", () => {
        if (wi == 0) g = g0
        val (g2, summary) = ctx.write(text, g, prm)
        Check(summary.length == 1, s"$name summary has ${summary.length} rows")
        g = g2
        Digest.rows(summary)
      })
      val ryw =
        if (name == "ins1" || name == "del1") {
          val expect = if (name == "ins1") 1 else 0
          Seq(Op(s"ryw_$name#$p", "read", () => {
            val rows = ctx.read(Snb.Text("is1"), g, prm + ("person" -> prm("newPerson")))
            Check(rows.length == expect, s"read-your-writes after $name: ${rows.length} rows, expected $expect")
            Digest.rows(rows)
          }))
        } else Nil
      val reads = Snb.MixedReads.lift(wi).toSeq.map(name => Snb.readOp(ctx, s"$name#$p@$wi", name, g, prm))
      write +: (ryw ++ reads)
    }
  }

  def warmup: Seq[Op] = epoch(0)
  def cycle(c: Int): Seq[Op] = epoch(c % NParams)
}
