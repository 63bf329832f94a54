package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{HttpRpc, SyntheticRpc, TooManyResultsException}

/** The loopback node must be a faithful JSON-RPC front for SyntheticRpc:
  * graft's HttpRpc decodes its answers into exactly the values the
  * in-memory chain returns, and the capped endpoint refuses the way a
  * hosted node does.
  */
class NodeSpec extends AnyFunSuite {
  private val head = 1000000L

  private def withNode(headRate: Double = 0.0)(f: (Node, SyntheticRpc) => Unit): Unit = {
    val node = new Node(42L, head, serviceMs = 0L, cap = 50, headRate = headRate, threads = 2)
    try f(node, new SyntheticRpc(42L, head)) finally node.stop()
  }

  test("getLogs decodes to SyntheticRpc's logs, with and without filters") {
    withNode() { (node, chain) =>
      val rpc = new HttpRpc(node.url)
      val topics = TicketScan.topic0s
      val addr = chain.getLogs(5000, 5010, Nil, Nil).head.address
      assert(rpc.getLogs(5000, 5099, Nil, Nil) == chain.getLogs(5000, 5099, Nil, Nil))
      assert(rpc.getLogs(5000, 5099, Nil, topics.take(2)) == chain.getLogs(5000, 5099, Nil, topics.take(2)))
      assert(rpc.getLogs(5000, 5099, Seq(addr.toUpperCase), Nil) == chain.getLogs(5000, 5099, Seq(addr), Nil))
      assert(rpc.getLogs(5000, 5099, Seq(addr), Nil).nonEmpty)
    }
  }

  test("getBlock and blockNumber decode to SyntheticRpc's values") {
    withNode() { (node, chain) =>
      val rpc = new HttpRpc(node.url)
      (0L until 50L).map(_ * 997).foreach(n => assert(rpc.getBlock(n) == chain.getBlock(n)))
      assert(rpc.getBlock(head + 1).isEmpty)
      assert(rpc.blockNumber() == head)
    }
  }

  test("the capped endpoint refuses large answers with the hosted-node wording") {
    withNode() { (node, chain) =>
      val capped = new HttpRpc(node.cappedUrl)
      val e = intercept[TooManyResultsException](capped.getLogs(0, 999, Nil, Nil))
      assert(e.getMessage == "query returned more than 50 results")
      assert(capped.getLogs(0, 3, Nil, Nil) == chain.getLogs(0, 3, Nil, Nil))
      assert(node.snapshot()("cap_refusals") == 1.0)
    }
  }

  test("an advancing head grows on the node's clock and stamps block creation") {
    withNode(headRate = 1000.0) { (node, _) =>
      val rpc = new HttpRpc(node.url)
      node.startAdvancing()
      Thread.sleep(50)
      val h = rpc.blockNumber()
      assert(h > head && h <= node.head)
      assert(node.createdAtUs(head + 100) - node.createdAtUs(head) == 100000L)
    }
  }
}
