package graft.domain

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Store-level write-operator guarantees not already covered by the
  * pipeline e2e specs — here, that insert-ignore dedup (M2) survives a
  * caller that mis-declares the batch's contract confinement.
  */
class MerlStoreSpec extends SparkSpec {

  private def txBatch(rows: Seq[(String, String, String, String, Integer)]): DataFrame = {
    val ss = spark; import ss.implicits._
    rows.toDF("wallet_address", "contract_address", "tx_hash", "value_raw",
      "transaction_index")
  }

  private val batch = Seq(
    ("0xw1", "0xabc", "0xh1", "100", Integer.valueOf(1)),
    ("0xw1", "0xabc", "0xh2", "200", Integer.valueOf(2)))

  test("appendWalletTransactions: replay cannot duplicate even without a declared contract list") {
    val store = new MerlStore(spark, Files.createTempDirectory("graft_store").toString)
    store.appendWalletTransactions(txBatch(batch))
    assert(store.read("wallet_transactions").count() == 2)
    // replay with NO contracts hint: the prune set derives from the
    // batch itself, so the anti-join still sees the existing rows
    store.appendWalletTransactions(txBatch(batch))
    assert(store.read("wallet_transactions").count() == 2,
      "insert-ignore must hold on an undeclared replay")
  }

  test("appendWalletTransactions rejects a batch outside its declared contracts") {
    val store = new MerlStore(spark, Files.createTempDirectory("graft_store").toString)
    store.appendWalletTransactions(txBatch(batch), contracts = Some(Seq("0xabc")))
    assert(store.read("wallet_transactions").count() == 2)
    // A mismatched caller used to prune the existing side to 0xother,
    // blinding the anti-join and duplicating every row on replay.
    // Now the declaration is validated against the batch and fails loud.
    val e = intercept[IllegalArgumentException] {
      store.appendWalletTransactions(txBatch(batch), contracts = Some(Seq("0xother")))
    }
    assert(e.getMessage.contains("0xabc"))
    assert(store.read("wallet_transactions").count() == 2, "no partial write on rejection")
  }

  test("appendWalletTransactions: two stores over one root append concurrently and lose no row") {
    val root = Files.createTempDirectory("graft_store").toString
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val workers = Seq("0xaaa", "0xbbb").map { token =>
      new Thread(() =>
        try {
          val store = new MerlStore(spark, root)
          for (i <- 1 to 8)
            store.appendWalletTransactions(
              txBatch(Seq(("0xw1", token, s"0xh$i", "100", Integer.valueOf(i)))))
        } catch { case e: Throwable => errors.add(e) })
    }
    workers.foreach(_.start()); workers.foreach(_.join())
    assert(errors.isEmpty, s"a writer failed: ${errors.peek()}")
    val rows = new MerlStore(spark, root).read("wallet_transactions")
    assert(rows.count() == 16, "every batch of both writers must survive")
    assert(!rows.columns.contains("__batch"), "read hides the segment column")
  }
}
