package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import scala.collection.mutable
import scala.util.Random

/** Input sizes of one nightly workload. Churn counts are per dim per
  * night; `redrop` is the share of the previous night's transactions that
  * is dropped again (the fact dedup must discard them).
  */
final case class NightlyScale(clients: Int, accounts: Int, cards: Int,
                              terminals: Int, transPerNight: Int,
                              inserts: Int, updates: Int, deletes: Int,
                              terminalChurn: Int, blacklistPerNight: Int,
                              redrop: Double)

object NightlyScale {
  /** The reference job at its own size: ~16k transactions per night,
    * ~150 terminals, dims of ~10³ keys with a handful of changes.
    */
  val ref: NightlyScale = NightlyScale(clients = 1000, accounts = 1100, cards = 1200,
    terminals = 150, transPerNight = 16000, inserts = 3, updates = 5, deletes = 2,
    terminalChurn = 1, blacklistPerNight = 8, redrop = 0.0)

  /** Scaled up: 10⁵ keys per dim with ~1% churn per night, 10× the
    * transactions, a 10⁴-row terminals sheet, 2% re-dropped ids.
    */
  val scale: NightlyScale = NightlyScale(clients = 100000, accounts = 100000, cards = 100000,
    terminals = 10000, transPerNight = 160000, inserts = 300, updates = 500, deletes = 200,
    terminalChurn = 100, blacklistPerNight = 80, redrop = 0.02)
}

/** One night's inputs: the bank snapshot (rows in key order), and the
  * three drop files as bytes, named as `DropFolder.route` expects.
  */
final case class NightInputs(date: LocalDate,
                             clients: Seq[Array[Any]], accounts: Seq[Array[Any]],
                             cards: Seq[Array[Any]],
                             files: Seq[(String, Array[Byte])],
                             transIds: Seq[String], inputRows: Long)

/** Seeded, deterministic generator of the nightly job's inputs: bank dims
  * (clients, accounts, cards), the `;`-separated decimal-comma
  * transactions CSV, the terminals snapshot XLSX and the cumulative
  * passport blacklist XLSX (serial dates, Cyrillic text, styled-empty
  * trailing rows). Night 0 is the initial load; every later night applies
  * inserts, updates (including null↔value flips) and deletes to each dim.
  *
  * The data is seeded so all three fraud reports flag rows: some
  * passports and accounts are expired, blacklist entries name real
  * clients' passports, and cards hop between terminals in different cities
  * within an hour.
  */
final class NightlyGen(seed: Long, sc: NightlyScale) {
  private var rnd = new Random(seed)

  /** Draw every later night from `s`: the initial load can come from a
    * fixed seed while the nights vary with the run's seed.
    */
  def reseed(s: Long): Unit = rnd = new Random(s)
  val start: LocalDate = LocalDate.of(2021, 3, 1)

  private val lastNames = Vector("Иванов", "Смирнов", "Кузнецов", "Попов", "Васильев",
    "Петров", "Соколов", "Михайлов", "Новиков", "Фёдоров", "Морозов", "Волков")
  private val firstNames = Vector("Александр", "Сергей", "Дмитрий", "Андрей", "Алексей",
    "Максим", "Евгений", "Иван", "Михаил", "Артём", "Николай", "Олег")
  private val patronymics = Vector("Александрович", "Сергеевич", "Дмитриевич",
    "Андреевич", "Алексеевич", "Иванович", "Михайлович", "Петрович")
  private val cities = Vector("Ангарск", "Москва", "Иркутск", "Тверь", "Казань",
    "Пермь", "Омск", "Самара", "Уфа", "Сочи", "Томск", "Чита")
  private val streets = Vector("Электролитный пр.", "ул. Ленина", "ул. Мира",
    "ул. Гагарина", "пр. Победы", "ул. Садовая")

  // current bank image: key -> row (schema of Schemas.{clients,accounts,cards}
  // without processed_dt)
  private val clients = mutable.TreeMap[String, Array[Any]]()
  private val accounts = mutable.TreeMap[String, Array[Any]]()
  private val cards = mutable.TreeMap[String, Array[Any]]()
  private val terminals = mutable.TreeMap[String, Array[String]]()
  private val blacklist = mutable.ArrayBuffer[(LocalDate, String)]()
  private var nextClient, nextAccount, nextCard, nextTerminal = 0
  private var nextTrans = 43000000000L
  private var night = -1
  private var prevLines: Vector[String] = Vector.empty
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  private def pick[T](v: IndexedSeq[T]): T = v(rnd.nextInt(v.length))
  private def ts(d: LocalDate): Timestamp = Timestamp.valueOf(d.atStartOfDay)
  private def digits(n: Int): String = (0 until n).map(_ => ('0' + rnd.nextInt(10)).toChar).mkString

  private def newClient(d: LocalDate): Unit = {
    val id = f"C$nextClient%07d"; nextClient += 1
    val expired = rnd.nextDouble() < 0.04
    val validTo = if (expired) start.minusDays(1 + rnd.nextInt(300))
      else if (rnd.nextDouble() < 0.05) null else start.plusDays(200 + rnd.nextInt(3000))
    clients(id) = Array[Any](id, pick(lastNames), pick(firstNames),
      if (rnd.nextDouble() < 0.1) null else pick(patronymics),
      Date.valueOf(LocalDate.of(1950 + rnd.nextInt(50), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28))),
      s"${digits(4)} ${digits(6)}",
      if (validTo == null) null else Date.valueOf(validTo),
      if (rnd.nextDouble() < 0.05) null else s"+7${digits(10)}",
      ts(d), null)
  }

  private def newAccount(d: LocalDate, clientKeys: IndexedSeq[String]): Unit = {
    val num = f"40817810${nextAccount}%012d"; nextAccount += 1
    val validTo = if (rnd.nextDouble() < 0.04) start.minusDays(1 + rnd.nextInt(300))
      else start.plusDays(100 + rnd.nextInt(2000))
    accounts(num) = Array[Any](num, Date.valueOf(validTo), pick(clientKeys), ts(d), null)
  }

  private def newCard(d: LocalDate, accountKeys: IndexedSeq[String]): Unit = {
    val n = f"${4000000000000000L + nextCard.toLong * 7919L}%016d"; nextCard += 1
    // bank cards carry a trailing blank (BPCHAR padding); the CSV does not
    val num = s"${n.substring(0, 4)} ${n.substring(4, 8)} ${n.substring(8, 12)} ${n.substring(12)} "
    cards(num) = Array[Any](num, pick(accountKeys), ts(d), null)
  }

  private def newTerminal(): Unit = {
    val pos = rnd.nextBoolean()
    val id = f"${if (pos) "P" else "A"}$nextTerminal%05d"; nextTerminal += 1
    val city = pick(cities)
    terminals(id) = Array(id, if (pos) "POS" else "ATM", city,
      s"г. $city, ${pick(streets)}, д. ${1 + rnd.nextInt(120)}")
  }

  private def sample[T](keys: IndexedSeq[T], n: Int): Seq[T] =
    if (keys.isEmpty) Nil else rnd.shuffle(keys.indices.toVector).take(n).map(keys)

  /** Apply one night of dim churn: inserts, updates (with null↔value
    * flips), deletes.
    */
  private def churn(d: LocalDate): Unit = {
    val upd = ts(d)
    sample(clients.keys.toIndexedSeq, sc.updates).foreach { k =>
      val r = clients(k).clone()
      rnd.nextInt(3) match {
        case 0 => r(3) = if (r(3) == null) pick(patronymics) else null // patronymic flip
        case 1 => r(7) = if (r(7) == null) s"+7${digits(10)}" else null // phone flip
        case _ => r(6) = Date.valueOf(start.plusDays(rnd.nextInt(4000) - 400))
      }
      r(9) = upd
      clients(k) = r
    }
    sample(accounts.keys.toIndexedSeq, sc.updates).foreach { k =>
      val r = accounts(k).clone()
      r(1) = Date.valueOf(start.plusDays(rnd.nextInt(3000) - 300)); r(4) = upd
      accounts(k) = r
    }
    val accKeys = accounts.keys.toIndexedSeq
    sample(cards.keys.toIndexedSeq, sc.updates).foreach { k =>
      val r = cards(k).clone()
      r(1) = pick(accKeys); r(3) = upd
      cards(k) = r
    }
    sample(clients.keys.toIndexedSeq, sc.deletes).foreach(clients.remove)
    sample(accounts.keys.toIndexedSeq, sc.deletes).foreach(accounts.remove)
    sample(cards.keys.toIndexedSeq, sc.deletes).foreach(cards.remove)
    (0 until sc.inserts).foreach(_ => newClient(d))
    val clientKeys = clients.keys.toIndexedSeq
    (0 until sc.inserts).foreach(_ => newAccount(d, clientKeys))
    val accKeys2 = accounts.keys.toIndexedSeq
    (0 until sc.inserts).foreach(_ => newCard(d, accKeys2))
    // terminals: one sheet-level change per churn unit, alternating
    // insert / delete / address update
    (0 until sc.terminalChurn).foreach { i =>
      (night + i) % 3 match {
        case 0 => newTerminal()
        case 1 => sample(terminals.keys.toIndexedSeq, 1).foreach(terminals.remove)
        case _ => sample(terminals.keys.toIndexedSeq, 1).foreach { k =>
          val r = terminals(k).clone(); r(3) = s"г. ${r(2)}, ${pick(streets)}, д. ${1 + rnd.nextInt(120)}"
          terminals(k) = r
        }
      }
    }
  }

  /** Generate the next night's inputs (night 0 = the initial load). */
  def next(): NightInputs = {
    night += 1
    val d = start.plusDays(night.toLong)
    if (night == 0) {
      (0 until sc.clients).foreach(_ => newClient(d))
      val clientKeys = clients.keys.toIndexedSeq
      (0 until sc.accounts).foreach(_ => newAccount(d, clientKeys))
      val accKeys = accounts.keys.toIndexedSeq
      (0 until sc.cards).foreach(_ => newCard(d, accKeys))
      (0 until sc.terminals).foreach(_ => newTerminal())
    } else churn(d)

    // blacklist grows: mostly real clients' passports, some unknown ones
    val passports = clients.valuesIterator.map(_(5).asInstanceOf[String]).toIndexedSeq
    (0 until sc.blacklistPerNight).foreach { _ =>
      blacklist += (d -> (if (rnd.nextDouble() < 0.7) pick(passports) else s"${digits(4)} ${digits(6)}"))
    }

    val cardKeys = cards.keys.toIndexedSeq
    val termKeys = terminals.keys.toIndexedSeq
    val lines = mutable.ArrayBuffer[String]()
    val ids = mutable.ArrayBuffer[String]()
    val day0 = d.atStartOfDay
    (0 until sc.transPerNight).foreach { _ =>
      val id = nextTrans.toString; nextTrans += 1
      val at = day0.plusSeconds(rnd.nextInt(86400).toLong)
      lines += Seq(id, at.format(tsFmt),
        s"${rnd.nextInt(50000)},${f"${rnd.nextInt(100)}%02d"}",
        pick(cardKeys).trim,
        pick(Vector("PAYMENT", "WITHDRAW", "DEPOSIT")),
        if (rnd.nextDouble() < 0.9) "SUCCESS" else "REJECT",
        pick(termKeys)).mkString(";")
      ids += id
    }
    // re-drop a slice of yesterday's lines: same ids, must be deduped
    val redropped = prevLines.take((prevLines.length * sc.redrop).toInt)
    prevLines = lines.toVector
    val csv = ("transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal" +:
      (lines ++ redropped)).mkString("", "\n", "\n")

    val stamp = d.format(java.time.format.DateTimeFormatter.ofPattern("ddMMyyyy"))
    import XlsxWriter._
    val termXlsx = XlsxWriter.bytes(Seq("terminal_id", "terminal_type", "terminal_city", "terminal_address"),
      terminals.values.toSeq.map(_.toSeq.map(Str)))
    val blXlsx = XlsxWriter.bytes(Seq("date", "passport"),
      blacklist.toSeq.map { case (dt, p) => Seq(Serial(serialOf(dt)), Str(p)) },
      styledEmptyRows = 5)
    val files = Seq(
      s"passport_blacklist_$stamp.xlsx" -> blXlsx,
      s"terminals_$stamp.xlsx" -> termXlsx,
      s"transactions_$stamp.txt" -> csv.toString.getBytes(UTF_8))
    val rows = clients.size + accounts.size + cards.size + terminals.size +
      blacklist.size + lines.length + redropped.length
    NightInputs(d, clients.values.toVector, accounts.values.toVector, cards.values.toVector,
      files, ids.toVector, rows.toLong)
  }
  /** The final dim images the warehouse must hold: key + compare
    * columns, rendered as strings.
    */
  def expectedDims: Map[String, Seq[Seq[String]]] = {
    def s(v: Any): String = if (v == null) null else v.toString
    Map(
      "dim_clients" -> clients.values.toSeq.map(r => Seq(0, 1, 2, 3, 4, 5, 6, 7).map(i => s(r(i)))),
      "dim_accounts" -> accounts.values.toSeq.map(r => Seq(0, 1, 2).map(i => s(r(i)))),
      "dim_cards" -> cards.values.toSeq.map(r => Seq(0, 1).map(i => s(r(i)))),
      "dim_terminals" -> terminals.values.toSeq.map(_.toSeq))
  }
}

object NightlyGen {
  /** SHA-256 over a night's content: bank rows in key order plus every
    * drop file's name and bytes.
    */
  def digest(nights: Seq[NightInputs]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    nights.foreach { n =>
      Seq(n.clients, n.accounts, n.cards).foreach(_.foreach { r =>
        md.update(r.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001").getBytes(UTF_8))
        md.update('\n'.toByte)
      })
      n.files.foreach { case (name, b) => md.update(name.getBytes(UTF_8)); md.update(b) }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
