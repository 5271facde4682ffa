package lakebench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer

/** History sizes of the EVO entities. The mix follows the reference's
  * volumes (BASELINE.md: ~110M entries, 12.8M sales, 2.4M members, 612K
  * prospects, about 180:21:4:1) scaled down. */
final case class Scale(members: Int, sales: Int, entries: Int, prospects: Int)

/** One bronze entity of the EVO source and its history size. */
final case class Entity(entity: String, count: Int)

/** What one bronze run delivered. */
final case class RunStats(runId: String, records: Long, bytes: Long,
    entities: Set[String])

/** Seeded EVO bronze generator: gzip JSONL files in the lake's bronze
  * layout, written directly (the program under test only reads them).
  *
  * A record's payload is a pure function of (seed, entity, id,
  * version), so a re-delivery is byte-identical to its first delivery
  * and a new version differs from the old one. The history holds every
  * id at version 0, plus planted faults the program must handle:
  * members without `idMember`, entries without `date` (both dropped),
  * exact duplicate entry lines (one row), membership and sale-item
  * elements without their id (filtered). A delta is about 1% of each
  * entity: 40% inserts,
  * 40% new versions of existing ids and 20% re-deliveries of records
  * the previous run delivered. No id occurs twice in one run except as
  * an exact duplicate line. */
final class LakeGen(base: String, seed: Long, scale: Scale) {
  val entities: Seq[Entity] = Seq(Entity("members", scale.members),
    Entity("sales", scale.sales), Entity("prospects", scale.prospects),
    Entity("entries", scale.entries))

  // per entity: next fresh id, and the (id, version) pairs of the
  // previous delivery (the re-delivery pool)
  private val nextId = scala.collection.mutable.Map.empty[Entity, Int]
  private val lastDelivered =
    scala.collection.mutable.Map.empty[Entity, Array[(Int, Int)]]

  def history(runId: String, day: String): RunStats = {
    val recs = entities.map { e =>
      nextId(e) = e.count + 1
      val ids = (1 to e.count).map(i => (i, 0)).toArray
      lastDelivered(e) = ids
      e -> ids.toSeq
    }
    write(runId, day, recs)
  }

  /** Delta number `k` (k >= 1). */
  def delta(k: Int, runId: String, day: String): RunStats = {
    val rnd = new SplittableRandom(seed * 7919L + k)
    val recs = entities.map { e =>
      val n = math.max(5, e.count / 100)
      val nIns = n * 2 / 5
      val nRe = n / 5
      val nUpd = n - nIns - nRe
      val start = nextId(e)
      nextId(e) = start + nIns
      val inserts = (start until start + nIns).map(i => (i, 0))
      val prev = lastDelivered(e)
      val re = pick(rnd, prev.length, nRe).map(prev(_)).toSeq
      val taken = re.map(_._1).toSet ++ inserts.map(_._1)
      val upd = pick(rnd, start - 1, nUpd * 2).map(_ + 1)
        .filterNot(taken).take(nUpd).map(i => (i, k)).toSeq
      val all = (inserts ++ upd ++ re).toArray
      lastDelivered(e) = all
      e -> all.toSeq
    }
    write(runId, day, recs)
  }

  /** `n` distinct indexes in [0, bound), in a seeded order. */
  private def pick(rnd: SplittableRandom, bound: Int, n: Int): Array[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    val want = math.min(n, bound)
    while (seen.size < want) seen += rnd.nextInt(bound)
    seen.toArray
  }

  private def write(runId: String, day: String,
      recs: Seq[(Entity, Seq[(Int, Int)])]): RunStats = {
    var records = 0L
    var bytes = 0L
    for ((e, ids) <- recs if ids.nonEmpty) {
      val dir = new File(s"$base/evo/entity=${e.entity}/ingestion_date=$day/run_id=$runId")
      dir.mkdirs()
      // several parts per big entity: gzip is not splittable, so one
      // file would be read by one task
      val parts = math.min(4, math.max(1, ids.size / 2000))
      for (p <- 0 until parts) {
        val f = new File(dir, f"part-$p%05d.jsonl.gz")
        val out = new OutputStreamWriter(new GZIPOutputStream(
          new BufferedOutputStream(new FileOutputStream(f), 1 << 16)),
          StandardCharsets.UTF_8)
        try {
          var i = p
          while (i < ids.size) {
            val (id, v) = ids(i)
            val line = LakeGen.record(seed, scale.members, e, id, v)
            out.write(line); out.write('\n')
            records += 1
            // planted exact duplicate lines
            if (e.entity == "entries" && id % 50 == 0) {
              out.write(line); out.write('\n')
              records += 1
            }
            i += parts
          }
        } finally out.close()
        bytes += f.length()
      }
    }
    RunStats(runId, records, bytes, recs.filter(_._2.nonEmpty).map(_._1.entity).toSet)
  }
}

object LakeGen {
  private val Branches = Array("Centro", "Savassi", "Pampulha", "Barreiro",
    "Lourdes", "Funcionarios", "Buritis", "Sion")
  private val Names = Array("Ana", "Bruno", "Carla", "Diego", "Elisa",
    "Fabio", "Gabi", "Hugo", "Iris", "Joao", "Katia", "Luis")
  private val Base = java.time.LocalDateTime.of(2023, 1, 1, 0, 0)

  private val Iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private def ts(secs: Long): String = Base.plusSeconds(secs).format(Iso)
  private def money(r: SplittableRandom, max: Int): String =
    s"${r.nextInt(max)}.${"%02d".format(r.nextInt(100))}"

  private def rng(seed: Long, e: Entity, id: Int, v: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + e.entity.hashCode * 7919L +
      id * 104729L + v)

  def record(seed: Long, members: Int, e: Entity, id: Int, v: Int): String = {
    val r = rng(seed, e, id, v)
    val upd = ts(86400L * 900 + v * 86400L + r.nextInt(80000))
    e.entity match {
      case "members" =>
        // 3-5 memberships, about 4 per member (reference: 10M for 2.4M)
        val nm = 3 + id % 3
        val memberships = (0 until nm).map { j =>
          s"""{"idMemberMembership": ${id * 10 + j}, "idMembership": ${1 + (id + j) % 12}, """ +
            s""""membershipName": "Plano ${1 + (id + j) % 12}", "idSale": ${id * 3 + j}, """ +
            s""""startDate": "${ts(86400L * (id % 700))}", "endDate": "${ts(86400L * (id % 700 + 365))}", """ +
            s""""membershipStatus": "${if ((id + j + v) % 4 == 0) "canceled" else "active"}", """ +
            s""""valueNextMonth": "${money(r, 300)}", "freezes": []}"""
        } ++ (if (id % 13 == 0) Seq(s"""{"idMembership": 3, "membershipName": "ghost"}""")
              else Nil)
        val key = if (id % 89 == 0) "" else s""""idMember": $id, """
        s"""{$key"idBranch": ${1 + id % 8}, "branchName": "${Branches(id % 8)}", """ +
          s""""firstName": "${Names(r.nextInt(Names.length))}", "lastName": "N$id", """ +
          s""""document": "${"%011d".format(id * 7L)}", "gender": "${if (id % 2 == 0) "F" else "M"}", """ +
          s""""birthDate": "19${60 + id % 40}-05-01", "city": "BH", "state": "MG", """ +
          s""""status": "${if (v % 2 == 0) "Active" else "Inactive"}", "membershipStatus": "active", """ +
          s""""totalFitCoins": "${money(r, 500)}", "registerDate": "${ts(86400L * (id % 700))}", """ +
          s""""updateDate": "$upd", "contacts": [""" +
          s"""{"idPhone": ${id * 10 + 1}, "idContactType": 1, "ddi": "55", "description": "+5531${"%09d".format(id + v)}"}, """ +
          s"""{"idPhone": ${id * 10 + 2}, "idContactType": 4, "description": "m$id.$v@example.com"}], """ +
          s""""memberships": [${memberships.mkString(", ")}]}"""
      case "sales" =>
        // 0.8 items and 1.17 receivables per sale (reference: 10M and
        // 15M for 12.8M sales)
        val items = (0 until (if (id % 5 == 0) 0 else 1)).map { j =>
          s"""{"idSaleItem": ${id * 10 + j}, "description": "Item $j", "itemValue": "${money(r, 400)}", """ +
            s""""saleValue": "${money(r, 400)}", "quantity": ${1 + r.nextInt(3)}, "discount": "0.00"}"""
        } ++ (if (id % 17 == 0) Seq("""{"description": "no id"}""") else Nil)
        val recv = (0 until (if (id % 6 == 0) 2 else 1)).map { j =>
          s"""{"idReceivable": ${id * 10 + j}, "dueDate": "${ts(86400L * (id % 900 + 30 * j))}", """ +
            s""""amount": "${money(r, 400)}", "ammountPaid": "${money(r, 400)}", """ +
            s""""status": {"id": ${1 + j}, "name": "${if (j == 0) "paid" else "open"}"}}"""
        }
        s"""{"idSale": $id, "idMember": ${1 + r.nextInt(members)}, "idBranch": ${1 + id % 8}, """ +
          s""""saleDate": "${ts(86400L * (id % 900))}", "updateDate": "$upd", """ +
          s""""removed": ${v % 5 == 4}, "saleItens": [${items.mkString(", ")}], """ +
          s""""receivables": [${recv.mkString(", ")}]}"""
      case "prospects" =>
        s"""{"idProspect": $id, "idBranch": ${1 + id % 8}, "branchName": "${Branches(id % 8)}", """ +
          s""""firstName": "${Names(r.nextInt(Names.length))}", "lastName": "P$id", """ +
          s""""email": "prospect$id@example.com", "currentStep": "step${v % 3}", """ +
          s""""registerDate": "${ts(86400L * (id % 900))}", "interests": ["musculacao"]}"""
      case "entries" =>
        // 1873 is prime to the 3-year period: distinct ids get distinct
        // dates, so two ids never share the 7-field entry key
        val secs = id.toLong * 1873L % (3L * 365 * 86400)
        val date = if (id % 97 == 0) "" else s""""date": "${ts(secs)}", """
        s"""{$date"idMember": ${1 + id * 7 % members}, "idProspect": null, "idEmployee": null, """ +
          s""""idBranch": ${1 + id % 8}, "device": "T-${"%02d".format(id % 6)}", """ +
          s""""entryAction": "${if (id % 2 == 0) "Entry" else "Exit"}", """ +
          s""""entryType": "${if (v == 0) "Regular" else s"Fix$v"}", "nameMember": "M${r.nextInt(1000)}"}"""
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
  }
}

/** Seeded document corpus with planted ground truth: distinct
  * documents, exact-duplicate groups (copies differ only in letter
  * case), near-duplicate families (one or two tokens replaced), too-short
  * documents and one document larger than the shard budget. Roles are
  * shuffled over the ids. */
final class CorpusGen(seed: Long, nDocs: Int, budget: Long) {
  final case class Doc(id: Long, text: String)

  private val rnd = new SplittableRandom(seed * 31L + 17L)
  private val vocab = Array.tabulate(6000)(i => "w" + Integer.toString(i * 7 + 11, 36))
  private val stop = Array("the", "of", "and", "to", "in", "a")

  /** `n` tokens, 8% of them (at least one) English stopwords: the
    * quality gate allows at most 15%, the language gate needs one. */
  private def words(n: Int): Array[String] = {
    val w = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    for (_ <- 0 until math.max(1, n * 8 / 100))
      w(rnd.nextInt(n)) = stop(rnd.nextInt(stop.length))
    w
  }

  val docs: ArrayBuffer[Doc] = ArrayBuffer.empty
  val exactGroups: ArrayBuffer[Seq[Long]] = ArrayBuffer.empty
  val nearFamilies: ArrayBuffer[Seq[Long]] = ArrayBuffer.empty
  val distinct: ArrayBuffer[Long] = ArrayBuffer.empty
  val short: ArrayBuffer[Long] = ArrayBuffer.empty
  var oversize: Long = -1L

  locally {
    val ids = {
      val a = Array.tabulate(nDocs)(i => (i + 1).toLong)
      var i = a.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.iterator
    }
    def add(text: String): Long = {
      val id = ids.next()
      docs += Doc(id, text)
      id
    }
    val nExact = nDocs / 20
    val nNear = nDocs / 20
    val nShort = nDocs / 50
    for (_ <- 0 until nExact) {
      val w = words(30 + rnd.nextInt(60))
      val copies = 2 + rnd.nextInt(3)
      exactGroups += (0 until copies).map { c =>
        add(if (c == 0) w.mkString(" ")
          else (w.head.toUpperCase +: w.tail).mkString(" "))
      }
    }
    for (_ <- 0 until nNear) {
      val w = words(60 + rnd.nextInt(40))
      val members = 2 + rnd.nextInt(2)
      nearFamilies += (0 until members).map { c =>
        val v = w.clone()
        if (c > 0) v(v.length - 1 - c) = vocab(rnd.nextInt(vocab.length))
        add(v.mkString(" "))
      }
    }
    for (_ <- 0 until nShort) short += add(words(3 + rnd.nextInt(12)).mkString(" "))
    oversize = add(words((budget + budget / 4).toInt).mkString(" "))
    while (ids.hasNext) distinct += add(words(25 + rnd.nextInt(90)).mkString(" "))
  }

  /** Ground truth for the independent check, as JSON. */
  def truthJson: String = {
    def arr(xs: Iterable[Long]) = xs.mkString("[", ",", "]")
    s"""{"n_docs": $nDocs, "budget": $budget, "oversize": $oversize, """ +
      s""""exact_groups": ${exactGroups.map(arr).mkString("[", ",", "]")}, """ +
      s""""near_families": ${nearFamilies.map(arr).mkString("[", ",", "]")}, """ +
      s""""distinct": ${arr(distinct)}, "short": ${arr(short)}}"""
  }
}
