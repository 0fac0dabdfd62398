package graftbench

import java.util.{Base64, SplittableRandom}
import scala.collection.mutable

/** One input file: its lines, when it is due (ms after the schedule's
  * start), and the largest key among its valid lines. */
final case class InputFile(seq: Int, dueMs: Long, lines: IndexedSeq[String],
    malformed: Int, maxKey: Long) {
  def name: String = f"f$seq%06d.jsonl"
}

/** A generated feed: the files, the set of distinct valid keys (sorted) and
  * the number of malformed lines, which is what the errors table must hold. */
final case class HederaCorpus(files: IndexedSeq[InputFile], uniqueKeys: Array[Long],
    malformed: Int) {
  def lines: Long = files.map(_.lines.size.toLong).sum
}

/** Plain-JVM generator of Hedera transaction JSON lines shaped like the
  * golden fixtures (FIXTURES.md §1): the same six transaction types, int64s
  * both quoted and bare, per-type payloads, and the fields ingest must drop
  * (sigMap, exchangeRate, generateRecord). Never touches Spark. */
object HederaGen {
  /** Share of valid rows re-sent in one of the next three files. */
  val DupShare = 0.03
  /** Share of lines that are malformed: truncated JSON, a missing key, or a
    * key that is not an int64 — one of each kind in turn. */
  val BadShare = 0.01

  private val Types = Array(14, 14, 14, 14, 15, 11, 12, 16, 17)

  def build(seed: Long, nFiles: Int, rowsPerFile: Int, dueMs: Int => Long,
      keyNs: (Int, Int) => Long): HederaCorpus = {
    val r = new SplittableRandom(seed)
    val resend = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
    val keys = mutable.ArrayBuffer.empty[Long]
    var malformed = 0
    val files = (0 until nFiles).map { i =>
      val out = mutable.ArrayBuffer.empty[String]
      var maxKey = Long.MinValue
      var bad = 0
      for (j <- 0 until rowsPerFile) {
        val key = keyNs(i, j)
        val l = line(r, key)
        if (r.nextDouble() < BadShare) {
          out += broken(r, l, malformed); malformed += 1; bad += 1
        } else {
          out += l; keys += key; maxKey = math.max(maxKey, key)
          if (r.nextDouble() < DupShare) {
            val to = math.min(nFiles - 1, i + 1 + r.nextInt(3))
            resend.getOrElseUpdate(to, mutable.ArrayBuffer.empty) += l
          }
        }
      }
      resend.remove(i).foreach(out ++= _)
      InputFile(i, dueMs(i), out.toIndexedSeq, bad, maxKey)
    }
    HederaCorpus(files, keys.toArray.sorted, malformed)
  }

  private def broken(r: SplittableRandom, l: String, k: Int): String = k % 3 match {
    case 0 => l.substring(0, 20 + r.nextInt(l.length / 2))
    case 1 => l.replaceFirst("\"consensusTimestamp\":\"?\\d+\"?,", "")
    case _ => l.replaceFirst("\"consensusTimestamp\":\"?\\d+\"?", "\"consensusTimestamp\":\"x\"")
  }

  private def b64(r: SplittableRandom, n: Int): String = {
    val b = new Array[Byte](n); r.nextBytes(b); Base64.getEncoder.encodeToString(b)
  }

  /** Accounts are skewed: a few payers send most transactions. */
  private def account(r: SplittableRandom): Long = 1000L + (r.nextInt(4000) * r.nextInt(4000)) / 4000

  def line(r: SplittableRandom, key: Long): String = {
    val tpe = Types(r.nextInt(Types.length))
    val quoted = r.nextBoolean()
    def n(v: Long): String = if (quoted) "\"" + v + "\"" else v.toString
    def acct(a: Long): String = s"""{"shardNum":${n(0)},"realmNum":${n(0)},"accountNum":${n(a)}}"""
    def amounts(xs: Seq[(Long, Long)]): String =
      xs.map { case (a, v) => s"""{"accountID":${acct(a)},"amount":${n(v)}}""" }.mkString("[", ",", "]")
    val sec = key / 1000000000L
    val nanos = key % 1000000000L
    val payer = account(r)
    val payee = account(r)
    val node = 3L + r.nextInt(10)
    val fee = 50000L + r.nextInt(1000000)
    val amount = 1L + r.nextInt(100000000)
    val memo = s"m${r.nextInt(1000)}"
    val moved = if (tpe == 14) amount else 0L
    val transfers = Seq(payer -> -(fee + moved), node -> fee / 10, 98L -> (fee - fee / 10)) ++
      (if (tpe == 14) Seq(payee -> amount) else Nil)
    val extra = tpe match {
      case 14 => s""","cryptoTransfer":{"transfers":{"accountAmounts":${amounts(Seq(payer -> -amount, payee -> amount))}}}"""
      case 11 => s""","cryptoCreateAccount":{"key":{"ed25519":"${b64(r, 32)}"},"initialBalance":${n(amount)},"proxyAccountID":${acct(0)},"autoRenewPeriod":{"seconds":"7776000"}}"""
      case 15 => s""","cryptoUpdateAccount":{"accountIDToUpdate":${acct(payer)},"proxyFraction":0,"autoRenewPeriod":{"seconds":"7885000"}}"""
      case 12 => s""","cryptoDelete":{"transferAccountID":${acct(payee)},"deleteAccountID":${acct(payer)}}"""
      case 16 => s""","fileAppend":{"fileID":{"fileNum":${n(payee)}},"contents":"${b64(r, 96)}"}"""
      case _ => s""","fileCreate":{"expirationTime":{"seconds":${n(sec + 7776000)}},"contents":"${b64(r, 96)}"}"""
    }
    val entity = if (tpe == 14 && r.nextBoolean()) ""
      else s""""entity":{"shardNum":0,"realmNum":0,"entityNum":$payee,"type":1},"""
    val nonFee = if (tpe == 14 || tpe == 11) s""","nonFeeTransfers":${amounts(Seq(payer -> -amount, payee -> amount))}""" else ""
    val keyJson = if (quoted) "\"" + key + "\"" else key.toString
    s"""{"consensusTimestamp":$keyJson,$entity"transactionType":$tpe,"transaction":{"body":{"transactionID":{"transactionValidStart":{"seconds":${n(sec - 12)},"nanos":$nanos},"accountID":${acct(payer)}},"nodeAccountID":${acct(node)},"transactionFee":${n(500000000)},"transactionValidDuration":{"seconds":${n(120)}},"generateRecord":true,"memo":"$memo"$extra},"sigMap":{"sigPair":[{"pubKeyPrefix":"jQ==","ed25519":"${b64(r, 64)}"}]}},"transactionRecord":{"receipt":{"status":"SUCCESS","exchangeRate":{"currentRate":{"hbarEquiv":30000,"centEquiv":120000}},"topicSequenceNumber":${n(0)},"topicRunningHash":""},"transactionHash":"${b64(r, 48)}","consensusTimestamp":{"seconds":${n(sec)},"nanos":$nanos},"memo":"$memo","transactionFee":${n(fee)},"transferList":{"accountAmounts":${amounts(transfers)}}}$nonFee}"""
  }
}
