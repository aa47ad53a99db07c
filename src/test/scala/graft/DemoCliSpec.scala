package graft

import java.nio.file.Files

import graft.graph.DemoMain

/** Golden tests for the demo CLI — command-for-command parity with the
  * reference's app (reference: app/Main.hs:161-205). The expected outputs
  * derive from the bigBang fixture: Bob's hobbies need {cards, chips,
  * poles, map}; Bob owns the map; friends Jane and Jose own the cards and
  * poles ⇒ Bob is missing exactly "Poker Chips" (app/Main.hs:102-114).
  */
class DemoCliSpec extends SparkSpec {

  private def cli(dir: String, args: String*): Seq[String] =
    DemoMain.run(spark, dir, args)

  test("create then query Bob reports the missing Poker Chips") {
    withTempDir("graft-demo-cli") { dir =>
      assert(cli(dir, "create") === Seq("created"))
      assert(cli(dir, "query", "Bob") === Seq("Poker Chips"))
    }
  }

  test("buy closes the gap; discard reopens it (app/Main.hs:175-182)") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      assert(cli(dir, "buy", "Bob", "Poker Chips") === Seq("ok"))
      assert(cli(dir, "query", "Bob").isEmpty)
      assert(cli(dir, "discard", "Bob", "Poker Chips") === Seq("ok"))
      assert(cli(dir, "query", "Bob") === Seq("Poker Chips"))
    }
  }

  test("mutation rewrites only the touched edge table (incremental persist)") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      def fileStamps(prefix: String): Map[String, Long] = {
        val root = new java.io.File(dir)
        root.listFiles().filter(f => f.isDirectory && f.getName.startsWith(prefix))
          .flatMap(d => d.listFiles().map(f => s"${d.getName}/${f.getName}" -> f.lastModified()))
          .toMap
      }
      val nodesBefore = fileStamps("nodes_")
      val spouseBefore = fileStamps("edges_spouse")
      Thread.sleep(1100) // one-second mtime granularity on some filesystems
      assert(cli(dir, "buy", "Bob", "Poker Chips") === Seq("ok"))
      // a possession mutation must leave every node table and every OTHER
      // edge table's files byte-untouched
      assert(fileStamps("nodes_") === nodesBefore,
        "buy must not rewrite node tables")
      assert(fileStamps("edges_spouse") === spouseBefore,
        "buy must not rewrite unrelated edge tables")
      // and the mutated state still answers the golden query correctly
      assert(cli(dir, "query", "Bob").isEmpty)
    }
  }

  test("unfriend removes Jane's cards from Bob's available pool") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      assert(cli(dir, "unfriend", "Bob", "Jane") === Seq("ok"))
      // without Jane, Bob loses access to the Deck of Cards too
      assert(cli(dir, "query", "Bob") === Seq("Deck of Cards", "Poker Chips"))
      assert(cli(dir, "friend", "Bob", "Jane") === Seq("ok"))
      assert(cli(dir, "query", "Bob") === Seq("Poker Chips"))
    }
  }

  test("marry and divorce maintain the symmetric spouse relation") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      assert(cli(dir, "divorce", "Bob", "Jane") === Seq("ok"))
      val afterDivorce = graft.graph.PropertyGraph.load(spark, graft.graph.DemoGraph.schema, dir)
      assert(afterDivorce.edges("spouse").count() === 0L)
      assert(cli(dir, "marry", "Jose", "Jane") === Seq("ok"))
      val afterMarry = graft.graph.PropertyGraph.load(spark, graft.graph.DemoGraph.schema, dir)
      // symmetric: visible from both endpoints
      assert(afterMarry.isRelated("spouse", "person:jose", "person:jane"))
      assert(afterMarry.isRelated("spouse", "person:jane", "person:jose"))
    }
  }

  test("ingest verb tails an edge-file directory; replay is idempotent") {
    withTempDir("graft-demo-cli") { dir =>
      withTempDir("graft-demo-ingest") { watch =>
        def drop(name: String, lines: String): Unit =
          Files.write(java.nio.file.Paths.get(watch, name), lines.getBytes("UTF-8"))
        def possessionCount(): Long =
          graft.graph.PropertyGraph.load(spark, graft.graph.DemoGraph.schema, dir)
            .edges("possession").count()

        cli(dir, "create")
        assert(cli(dir, "query", "Bob") === Seq("Poker Chips"))
        val base = possessionCount()

        // drop an edge file: Jane (Bob's friend) acquires the Poker Chips
        drop("e1.csv", "Jane,Poker Chips\n")
        val out1 = cli(dir, "ingest", watch)
        assert(out1 === Seq(s"ingested: possession now has ${base + 1} edges"))
        // the published graph answers the flagship query with the new edge
        assert(cli(dir, "query", "Bob").isEmpty,
          "Jane's chips should close Bob's gap")

        // replay: same files, new invocation — consumed files are a no-op
        assert(cli(dir, "ingest", watch) ===
          Seq(s"ingested: possession now has ${base + 1} edges"))
        assert(possessionCount() === base + 1)

        // a NEW file is picked up incrementally; old ones stay consumed, and
        // an unknown name is dropped rather than failing the stream
        drop("e2.csv", "Bob,Poker Chips\nNobody,Poker Chips\n")
        assert(cli(dir, "ingest", watch) ===
          Seq(s"ingested: possession now has ${base + 2} edges"))
        assert(possessionCount() === base + 2)

        // ingest composes with point mutations between runs
        assert(cli(dir, "discard", "Jane", "Poker Chips") === Seq("ok"))
        drop("e3.csv", "Jose,Trail Map\n")
        assert(cli(dir, "ingest", watch) ===
          Seq(s"ingested: possession now has ${base + 2} edges"))
        // Bob still owns chips via e2; Jane's discard survived the ingest
        assert(cli(dir, "query", "Bob").isEmpty)
      }
    }
  }

  test("ingest resolves endpoints per relation schema, incl. symmetric") {
    withTempDir("graft-demo-cli") { dir =>
      withTempDir("graft-demo-ingest-rel") { watch =>
        cli(dir, "create")
        // spouse is Person→Person and SYMMETRIC: the verb must resolve BOTH
        // names against the Person table (schema-driven endpoint labels) and
        // the folded edge must be visible from both directions
        Files.write(java.nio.file.Paths.get(watch, "m.csv"),
          "Jose,Jane\n".getBytes("UTF-8"))
        val out = cli(dir, "ingest", watch, "spouse")
        assert(out.head.startsWith("ingested: spouse"), out.toString)
        val g = graft.graph.PropertyGraph.load(spark, graft.graph.DemoGraph.schema, dir)
        assert(g.isRelated("spouse", "person:jose", "person:jane"))
        assert(g.isRelated("spouse", "person:jane", "person:jose"))
        // an unknown relation errors loudly instead of silently ingesting
        intercept[Exception](cli(dir, "ingest", watch, "nonsense"))
        // the inverse alias is rejected upfront: folded edges publish under
        // the canonical stored name, so accepting 'owner' would publish
        // possession and then read back a table that does not exist
        val inv = intercept[IllegalArgumentException](cli(dir, "ingest", watch, "owner"))
        assert(inv.getMessage.contains("canonical"), inv.getMessage)
      }
    }
  }

  test("pre-manifest directory falls back to the in-code demo schema") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      // simulate a directory written before self-describing persistence:
      // delete the _schema manifest, keep the node/edge tables
      val schemaDir = new java.io.File(dir, "_schema")
      schemaDir.listFiles().foreach(_.delete())
      assert(schemaDir.delete(), "test setup: _schema must be removed")
      assert(cli(dir, "query", "Bob") === Seq("Poker Chips"))
    }
  }

  test("corrupt manifest errors loudly instead of silently falling back") {
    withTempDir("graft-demo-cli") { dir =>
      cli(dir, "create")
      // truncate every manifest part-file to garbage: the manifest EXISTS
      // but cannot parse — that is corruption, and must surface as the
      // underlying parse error, never a silent in-code-schema fallback
      val schemaDir = new java.io.File(dir, "_schema")
      schemaDir.listFiles().filter(_.getName.endsWith(".json")).foreach { f =>
        Files.write(f.toPath, "{this is not a manifest".getBytes)
      }
      val e = intercept[Exception] { cli(dir, "query", "Bob") }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
      assert(chain.toLowerCase.contains("malformed") || chain.toLowerCase.contains("fail"),
        s"expected the underlying parse failure to surface, got:\n$chain")
    }
  }

  test("unknown command prints usage") {
    withTempDir("graft-demo-cli") { dir =>
      val out = cli(dir, "frobnicate")
      assert(out.size === 1 && out.head.startsWith("usage:"))
    }
  }
}
