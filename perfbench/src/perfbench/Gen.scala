package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded input generators, one per workload. Every generator returns the
  * answers the harness checks the engine against, computed here from the
  * generated data rather than by the engine under test. */
object Gen {

  def write(dir: Path, rel: String, content: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  /** SQL with every whitespace run removed: the compiled-SQL check
    * compares token text, not the renderer's line layout. */
  def squash(sql: String): String = sql.replaceAll("\\s+", "")

  // ---- parse_compile -----------------------------------------------------

  final case class ParseCompileProject(
      dir: Path,
      /** model name → expected compiled SQL, whitespace-squashed */
      expectedSql: Map[String, String],
      models: Int,
      tests: Int,
      edges: Int)

  /** A layered project of `nModels` models over `nSources` catalog
    * sources: macros with loops, vars, `is_incremental()` branches, two
    * generic tests per model, a selectors.yml, and a small slice over
    * inline rows (tag `smoke`) that is the only part ever executed. */
  def parseCompile(dir: Path, seed: Long, schema: String,
      nModels: Int, nSources: Int = 20, layers: Int = 5): ParseCompileProject = {
    val rnd = new java.util.Random(seed)
    write(dir, "dbt_project.yml",
      """name: pc
        |model-paths: ["models"]
        |macro-paths: ["macros"]
        |vars:
        |  pb_floor: 7
        |""".stripMargin)
    write(dir, "macros/pb.sql",
      """{% macro pb_cast(col, ty) %}cast({{ col }} as {{ ty }}){% endmacro %}
        |{% macro pb_hash(cols) -%}
        |xxhash64({% for c in cols %}{{ c }}{% if not loop.last %}, {% endif %}{% endfor %})
        |{%- endmacro %}
        |""".stripMargin)
    write(dir, "models/sources.yml",
      (Seq("version: 2", "sources:", "  - name: raw", "    schema: raw",
        "    tables:") ++
        (0 until nSources).map(i => f"      - name: src_$i%02d")).mkString("\n") + "\n")
    val perLayer = nModels / layers
    def name(i: Int) = f"m_$i%05d"
    val expected = mutable.LinkedHashMap.empty[String, String]
    var edges = 0
    val layerOf = (0 until nModels).map(i => math.min(i / perLayer, layers - 1))
    (0 until nModels).foreach { i =>
      val layer = layerOf(i)
      // shapes cycle with the model's position, so every seed generates
      // the same amount of work; the seed picks names, sources and edges
      val mat = i % 10 match {
        case n if n < 5 => "view"
        case n if n < 8 => "table"
        case _ => "incremental"
      }
      val cols = Seq("k", "v1", "v2", "v3").take(2 + i % 3)
      val (fromSql, fromExp, joinSql, joinExp, nDeps) =
        if (layer == 0) {
          val s = f"src_${rnd.nextInt(nSources)}%02d"
          (s"{{ source('raw', '$s') }}", s"raw.$s", "", "", 1)
        } else {
          val lo = (layer - 1) * perLayer
          val ups = Iterator.continually(name(lo + rnd.nextInt(perLayer)))
            .distinct.take(1 + i % 3).toSeq
          val joins = ups.tail.zipWithIndex.map { case (u, j) =>
            (s"left join {{ ref('$u') }} as j$j on a.k = j$j.k",
              s"left join $schema.$u as j$j on a.k = j$j.k")
          }
          (s"{{ ref('${ups.head}') }}", s"$schema.${ups.head}",
            joins.map(_._1).mkString("\n"), joins.map(_._2).mkString(" "),
            ups.length)
        }
      edges += nDeps
      val config = mat match {
        case "incremental" =>
          s"{{ config(materialized='incremental', unique_key='row_key', " +
            s"incremental_strategy='merge', tags=['layer$layer']) }}"
        case m => s"{{ config(materialized='$m', tags=['layer$layer']) }}"
      }
      val colList = cols.map(c => s"'a.$c'").mkString("[", ", ", "]")
      val sql =
        s"""$config
           |-- ${name(i)}: layer $layer
           |select
           |{%- for c in $colList %}
           |  {{ pb_cast(c, 'bigint') }} as {{ c | replace('a.', '') }},
           |{%- endfor %}
           |  {{ pb_hash(['a.k', 'a.v1']) }} as row_key
           |from $fromSql as a
           |$joinSql
           |where a.v1 >= {{ var('pb_floor') }}
           |{% if is_incremental() %}
           |  and a.k > (select max(k) from {{ this }})
           |{% endif %}
           |""".stripMargin
      write(dir, s"models/layer$layer/${name(i)}.sql", sql)
      expected(name(i)) = squash(
        s"-- ${name(i)}: layer $layer\nselect " +
          cols.map(c => s"cast(a.$c as bigint) as $c,").mkString(" ") +
          s" xxhash64(a.k, a.v1) as row_key from $fromExp as a $joinExp " +
          "where a.v1 >= 7")
    }
    (0 until layers).foreach { layer =>
      val names = (0 until nModels).filter(layerOf(_) == layer).map(name)
      write(dir, s"models/layer$layer/schema.yml",
        (Seq("version: 2", "models:") ++ names.flatMap(n => Seq(
          s"  - name: $n",
          "    columns:",
          "      - name: row_key",
          "        tests: [not_null, unique]"))).mkString("\n") + "\n")
    }
    edges += 2 * nModels
    write(dir, "selectors.yml",
      (Seq("selectors:", "  - name: pb_models", "    definition:",
        "      union:") ++
        (0 until layers).flatMap(l => Seq(
          "        - method: tag", s"          value: layer$l"))).mkString("\n") + "\n")
    // the executed slice: a view over inline rows, a table over it, three
    // tests
    write(dir, "models/smoke/smoke_a.sql",
      "{{ config(materialized='view', tags=['smoke']) }}\n" +
        "select * from values " + (1 to 40).map(i =>
          s"($i, 'g${i % 4}', ${rnd.nextInt(1000)})").mkString(", ") +
        " as t(id, grp, val)\n")
    write(dir, "models/smoke/smoke_b.sql",
      "{{ config(materialized='table', tags=['smoke']) }}\n" +
        "select grp, count(*) as n, sum(val) as total from {{ ref('smoke_a') }} group by grp\n")
    write(dir, "models/smoke/schema.yml",
      """version: 2
        |models:
        |  - name: smoke_a
        |    columns:
        |      - name: id
        |        tests: [not_null, unique]
        |  - name: smoke_b
        |    columns:
        |      - name: grp
        |        tests: [unique]
        |""".stripMargin)
    // smoke_b → smoke_a, three tests → their model
    edges += 1 + 3
    ParseCompileProject(dir, expected.toMap, models = nModels + 2,
      tests = 2 * nModels + 3, edges = edges)
  }

  // ---- build_dag ---------------------------------------------------------

  final case class Order(id: Long, customer: Int, product: Int, qty: Int,
      status: String, day: Int, updatedAt: java.sql.Timestamp)
  final case class Customer(id: Int, name: String, region: Int, tier: String,
      updatedAt: java.sql.Timestamp)
  final case class Event(id: Long, customer: Int, kind: String, day: Int)

  final case class DagData(
      orders: Seq[Order], ordersBatch: Seq[Order],
      customers: Seq[Customer], customersBatch: Seq[Customer],
      events: Seq[Event], eventsBatch: Seq[Event],
      prices: Map[Int, Int], categories: Map[Int, String], regions: Int,
      /** rows of the planted failing singular test */
      negativeLines: Int)

  val EventKinds: Seq[String] = Seq("view", "click", "checkout")
  val Regions = 2
  val ChainDepth = 2

  private def ts(day: Int, sec: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
      .plusSeconds(day * 86400L + sec))

  /** Baseline days `1..days` and one new daily batch (day `days + 1`)
    * that inserts new orders and events, re-states some earlier orders and
    * changes some customers. */
  def dagData(seed: Long, days: Int, ordersPerDay: Int, customers: Int,
      eventsPerDay: Int, products: Int = 50): DagData = {
    val rnd = new java.util.Random(seed)
    val prices = (1 to products).map(p => p -> (100 + rnd.nextInt(9900))).toMap
    val cats = Seq("books", "games", "garden", "tools", "toys")
    val categories = (1 to products).map(p => p -> cats(rnd.nextInt(cats.size))).toMap
    val statuses = Seq("placed", "shipped", "delivered")
    var nextOrder = 1L
    def order(day: Int): Order = {
      val o = Order(nextOrder, 1 + rnd.nextInt(customers), 1 + rnd.nextInt(products),
        1 + rnd.nextInt(5), statuses(rnd.nextInt(statuses.size)), day,
        ts(day, rnd.nextInt(86400)))
      nextOrder += 1
      o
    }
    val base0 = (1 to days).flatMap(d => Seq.fill(ordersPerDay)(order(d)))
    // three returns with a negative quantity: the planted failing test
    val negIdx = Seq(5, base0.length / 2, base0.length - 7)
    val base = base0.zipWithIndex.map { case (o, i) =>
      if (negIdx.contains(i)) o.copy(qty = -o.qty, status = "returned") else o
    }
    val newDay = days + 1
    val fresh = Seq.fill(ordersPerDay)(order(newDay))
    val restated = rnd.ints(0, base.length).distinct().limit(ordersPerDay / 5L)
      .toArray.toSeq.map(base).filterNot(_.qty < 0)
      .map(o => o.copy(status = "delivered", updatedAt = ts(newDay, rnd.nextInt(86400))))
    val tiers = Seq("bronze", "silver", "gold")
    val cs = (1 to customers).map(c => Customer(c, f"cust_$c%05d",
      rnd.nextInt(Regions), tiers(rnd.nextInt(3)), ts(0, rnd.nextInt(86400))))
    val changed = rnd.ints(0, customers).distinct().limit(customers / 20L)
      .toArray.toSeq.map(cs).map(c =>
        c.copy(tier = tiers((tiers.indexOf(c.tier) + 1) % 3),
          updatedAt = ts(newDay, rnd.nextInt(86400))))
    var nextEvent = 1L
    def events(day: Int) = Seq.fill(eventsPerDay) {
      val e = Event(nextEvent, 1 + rnd.nextInt(customers),
        EventKinds(rnd.nextInt(EventKinds.size)), day)
      nextEvent += 1
      e
    }
    val ev = (1 to days).flatMap(events)
    DagData(base, fresh ++ restated, cs, changed, ev, events(newDay),
      prices, categories, Regions, negIdx.length)
  }

  /** The build_dag project over external parquet sources under `dataDir`.
    * Returns the node count it declares. */
  def dagProject(dir: Path, dataDir: Path, d: DagData): Unit = {
    write(dir, "dbt_project.yml",
      """name: bd
        |model-paths: ["models"]
        |seed-paths: ["seeds"]
        |snapshot-paths: ["snapshots"]
        |test-paths: ["tests"]
        |""".stripMargin)
    write(dir, "seeds/products.csv",
      ("product_id,category,price_cents" +: d.prices.keys.toSeq.sorted.map(p =>
        s"$p,${d.categories(p)},${d.prices(p)}")).mkString("\n") + "\n")
    write(dir, "seeds/regions.csv",
      ("region_id,region_name" +: (0 until d.regions).map(r => s"$r,region_$r"))
        .mkString("\n") + "\n")
    write(dir, "models/sources.yml",
      Seq("orders", "customers", "events", "products", "regions").map(t =>
        s"""      - name: $t
           |        external:
           |          location: "${dataDir.resolve(t)}"""".stripMargin)
        .mkString("version: 2\nsources:\n  - name: raw\n    tables:\n", "\n", "\n"))
    val models = mutable.LinkedHashMap.empty[String, String]
    // keys tested not_null + unique, per model
    val keys = mutable.LinkedHashMap.empty[String, Seq[String]]
    // a unique test on the key of the models that carry state or feed
    // the checks; the rest stay untested to keep the DAG small
    val tested = Set("fct_orders", "fct_events_daily", "dim_customers",
      "int_customer_orders")
    def model(name: String, key: Option[String], sql: String): Unit = {
      models(name) = sql
      key.filter(_ => tested(name)).foreach(k => keys(name) = k.split(",").toSeq)
    }
    model("stg_orders", Some("order_id"),
      """{{ config(materialized='view') }}
        |select order_id, customer_id, product_id, qty, status, order_day, updated_at
        |from (
        |  select *, row_number() over (partition by order_id order by updated_at desc) as rn
        |  from {{ source('raw', 'orders') }}
        |) where rn = 1
        |""".stripMargin)
    model("stg_customers", Some("customer_id"),
      """{{ config(materialized='view') }}
        |select customer_id, customer_name, region_id, tier, updated_at
        |from (
        |  select *, row_number() over (partition by customer_id order by updated_at desc) as rn
        |  from {{ source('raw', 'customers') }}
        |) where rn = 1
        |""".stripMargin)
    model("stg_events", Some("event_id"),
      "{{ config(materialized='view') }}\n" +
        "select event_id, customer_id, kind, event_day from {{ source('raw', 'events') }}\n")
    model("stg_products", None,
      "{{ config(materialized='ephemeral') }}\n" +
        "select product_id, category, price_cents from {{ source('raw', 'products') }}\n")
    model("stg_regions", None,
      "{{ config(materialized='ephemeral') }}\n" +
        "select region_id, region_name from {{ source('raw', 'regions') }}\n")
    model("fct_orders", Some("order_id"),
      """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='order_id') }}
        |select order_id, customer_id, product_id, qty, status, order_day, updated_at
        |from {{ ref('stg_orders') }}
        |{% if is_incremental() %}
        |where updated_at > (select max(updated_at) from {{ this }})
        |{% endif %}
        |""".stripMargin)
    model("fct_events_daily", Some("event_key"),
      """{{ config(materialized='incremental', incremental_strategy='merge', unique_key='event_key') }}
        |select concat(kind, ':', cast(event_day as string)) as event_key, kind, event_day,
        |  count(*) as n, count(distinct customer_id) as customers
        |from {{ ref('stg_events') }}
        |{% if is_incremental() %}
        |where event_day >= (select max(event_day) from {{ this }})
        |{% endif %}
        |group by kind, event_day
        |""".stripMargin)
    model("dim_customers", Some("customer_id"),
      """{{ config(materialized='table') }}
        |select c.customer_id, c.customer_name, c.tier, c.region_id, r.region_name
        |from {{ ref('stg_customers') }} c join {{ ref('stg_regions') }} r on c.region_id = r.region_id
        |""".stripMargin)
    model("dim_products", Some("product_id"),
      "{{ config(materialized='table') }}\nselect * from {{ ref('stg_products') }}\n")
    model("int_order_lines", Some("order_id"),
      """{{ config(materialized='table') }}
        |select o.order_id, o.customer_id, o.order_day, o.status, p.category,
        |  o.qty * p.price_cents as amount_cents
        |from {{ ref('fct_orders') }} o join {{ ref('dim_products') }} p on o.product_id = p.product_id
        |""".stripMargin)
    model("int_customer_orders", Some("customer_id"),
      """{{ config(materialized='table') }}
        |select customer_id, count(*) as orders, sum(amount_cents) as revenue_cents,
        |  max(order_day) as last_day,
        |  percentile_approx(amount_cents, 0.5) as median_cents
        |from {{ ref('int_order_lines') }} group by customer_id
        |""".stripMargin)
    (0 until d.regions).foreach { r =>
      model(s"mart_region_$r", Some("order_day"),
        s"""{{ config(materialized='${if (r % 2 == 0) "table" else "view"}') }}
           |select l.order_day, sum(l.amount_cents) as revenue_cents, count(*) as lines
           |from {{ ref('int_order_lines') }} l join {{ ref('dim_customers') }} c
           |  on l.customer_id = c.customer_id
           |where c.region_id = $r group by l.order_day
           |""".stripMargin)
    }
    (1 to ChainDepth).foreach { i =>
      val up = if (i == 1) "int_customer_orders" else s"chain_${i - 1}"
      model(s"chain_$i", Some("customer_id"),
        s"""{{ config(materialized='${if (i % 3 == 0) "view" else "table"}') }}
           |select customer_id, orders, revenue_cents + $i as revenue_cents, last_day, median_cents
           |from {{ ref('$up') }}
           |""".stripMargin)
    }
    model("rpt_daily_revenue", Some("order_day"),
      """{{ config(materialized='table') }}
        |select order_day, sum(amount_cents) as revenue_cents, count(*) as lines
        |from {{ ref('int_order_lines') }} group by order_day
        |""".stripMargin)
    models.foreach { case (n, sql) => write(dir, s"models/$n.sql", sql) }
    write(dir, "snapshots/snap_customers.sql",
      """{{ config(strategy='timestamp', unique_key='customer_id', updated_at='updated_at') }}
        |select customer_id, customer_name, region_id, tier, updated_at
        |from {{ ref('stg_customers') }}
        |""".stripMargin)
    val schemaYml = mutable.ArrayBuffer("version: 2", "models:")
    keys.foreach { case (n, ks) =>
      schemaYml ++= Seq(s"  - name: $n", "    columns:")
      ks.foreach { k =>
        schemaYml ++= Seq(s"      - name: $k", "        tests: [unique]")
      }
      if (n == "fct_orders") schemaYml ++= Seq(
        "      - name: customer_id", "        tests:",
        "          - relationships:", "              to: ref('dim_customers')",
        "              field: customer_id",
        "      - name: status", "        tests:",
        "          - accepted_values:",
        "              values: ['placed', 'shipped', 'delivered', 'returned']")
    }
    // seeds and the snapshot are tested leaves: ref() to a seed or a
    // snapshot resolves to a model id in this engine, so models read the
    // seed rows as sources and nothing reads the snapshot
    schemaYml ++= Seq("snapshots:", "  - name: snap_customers", "    columns:",
      "      - name: dbt_scd_id", "        tests: [unique]", "seeds:", "  - name: products", "    columns:",
      "      - name: product_id", "        tests: [unique]",
      "  - name: regions", "    columns:",
      "      - name: region_id", "        tests: [unique]")
    write(dir, "models/schema.yml", schemaYml.mkString("\n") + "\n")
    write(dir, "tests/assert_revenue_reconciles.sql",
      """select * from (
        |  select (select sum(revenue_cents) from {{ ref('rpt_daily_revenue') }}) as a,
        |         (select sum(revenue_cents) from {{ ref('int_customer_orders') }}) as b
        |) where a <> b
        |""".stripMargin)
    // planted: the generator writes exactly d.negativeLines returns
    write(dir, "tests/assert_no_negative_lines.sql",
      "select * from {{ ref('int_order_lines') }} where amount_cents < 0\n")
  }

  /** Reference answers for build_dag after the baseline plus one batch. */
  final case class DagExpect(ordersRows: Long, ordersQty: Long,
      deliveredOrders: Long, revenueCents: Long, customers: Long,
      snapshotRows: Long, eventRows: Long, eventDays: Long)

  def dagExpect(d: DagData): DagExpect = {
    val latest = (d.orders ++ d.ordersBatch).groupBy(_.id).values
      .map(_.maxBy(_.updatedAt.getTime)).toSeq
    val changed = d.customersBatch.map(_.id).toSet
    DagExpect(
      ordersRows = latest.size.toLong,
      ordersQty = latest.map(_.qty.toLong).sum,
      deliveredOrders = latest.count(_.status == "delivered").toLong,
      revenueCents = latest.map(o => o.qty.toLong * d.prices(o.product)).sum,
      customers = d.customers.size.toLong,
      snapshotRows = (d.customers.size + changed.size).toLong,
      eventRows = (d.events ++ d.eventsBatch).size.toLong,
      eventDays = (d.events ++ d.eventsBatch).map(_.day).distinct.size.toLong)
  }

  // ---- curation corpus (the pipelines of build_dag) ----------------------

  final case class Doc(id: Long, batch: Int, title: String, text: String)

  final case class Corpus(baseline: Seq[Doc], batch: Seq[Doc],
      /** distinct clusters among the gate-passing docs */
      clusters: Int,
      /** survivors of the text near-dup step: one base per cluster plus
        * every title variant */
      afterMinhash: Int,
      /** survivors of the title near-dup step: one base per cluster plus
        * every text variant */
      afterFuzzy: Int,
      gatePassing: Int)

  /** English stopwords the gate counts: every generated text has eight
    * or nine of them, so only the planted junk fails the gate */
  private val Stop = Seq("the", "of", "and", "to", "in", "is")

  /** Clusters of documents with planted near-duplicates. Each cluster has
    * a base document; text variants change one word of its text (caught
    * by minhash_dedup); title variants keep a fresh text but change one
    * letter of its title (caught by fuzzy_dedup). Junk documents fail the
    * gate. Cluster bases always precede their variants, so the min-id keep
    * rule retains exactly one base per cluster. */
  def corpus(seed: Long, baseClusters: Int, batchClusters: Int,
      words: Int = 60, vocab: Int = 6000): Corpus = {
    val rnd = new java.util.Random(seed)
    val lexicon = (0 until vocab).map { _ =>
      val n = 4 + rnd.nextInt(6)
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    def text(): Array[String] = Array.tabulate(words) { i =>
      if (i % 7 == 3) Stop(rnd.nextInt(Stop.size))
      else lexicon(rnd.nextInt(lexicon.size))
    }
    def title(): String = (0 until 16).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    var nextId = 1L
    def doc(batch: Int, t: String, body: Array[String]): Doc = {
      val d = Doc(nextId, batch, t, body.mkString(" "))
      nextId += 1
      d
    }
    def cluster(batch: Int): (Doc, Array[String]) = {
      val body = text()
      (doc(batch, title(), body), body)
    }
    def textVariant(batch: Int, base: Doc, body: Array[String]): Doc = {
      val b = body.clone()
      val i = 1 + rnd.nextInt(words - 2)
      b(i) = lexicon(rnd.nextInt(lexicon.size))
      doc(batch, title(), b)
    }
    def titleVariant(batch: Int, base: Doc): Doc = {
      val t = base.title.toCharArray
      val i = rnd.nextInt(t.length)
      t(i) = (('a' + (t(i) - 'a' + 1 + rnd.nextInt(25)) % 26)).toChar
      doc(batch, new String(t), text())
    }
    def junk(batch: Int): Doc =
      doc(batch, title(), Array.fill(4)(lexicon(rnd.nextInt(lexicon.size))))

    val baseDocs = mutable.ArrayBuffer.empty[Doc]
    val bases = mutable.ArrayBuffer.empty[(Doc, Array[String])]
    var titleVariants = 0
    var textVariants = 0
    (0 until baseClusters).foreach { _ =>
      val c = cluster(0)
      bases += c
      baseDocs += c._1
    }
    // variants and junk after every base, so each base holds the min id
    bases.zipWithIndex.foreach { case ((b, body), i) =>
      i % 4 match {
        case 0 => baseDocs += textVariant(0, b, body); textVariants += 1
        case 1 => baseDocs += titleVariant(0, b); titleVariants += 1
        case _ =>
      }
    }
    (0 until baseClusters / 20).foreach(_ => baseDocs += junk(0))
    val batchDocs = mutable.ArrayBuffer.empty[Doc]
    val newBases = (0 until batchClusters).map(_ => cluster(1))
    batchDocs ++= newBases.map(_._1)
    // the batch re-delivers near-duplicates of settled baseline docs
    // (matched against the persisted indexes) and of its own new docs
    (0 until batchClusters).foreach { i =>
      val (b, body) = bases(rnd.nextInt(bases.size))
      if (i % 2 == 0) { batchDocs += textVariant(1, b, body); textVariants += 1 }
      else { batchDocs += titleVariant(1, b); titleVariants += 1 }
    }
    newBases.zipWithIndex.foreach { case ((b, body), i) =>
      if (i % 3 == 0) { batchDocs += textVariant(1, b, body); textVariants += 1 }
    }
    (0 until batchClusters / 20).foreach(_ => batchDocs += junk(1))
    val clusters = baseClusters + batchClusters
    val junkN = baseClusters / 20 + batchClusters / 20
    Corpus(baseDocs.toSeq, batchDocs.toSeq, clusters,
      afterMinhash = clusters + titleVariants,
      afterFuzzy = clusters + textVariants,
      gatePassing = baseDocs.size + batchDocs.size - junkN)
  }

  /** The curation subgraph: one pipeline model per step family. The gate,
    * then text (minhash) and title (fuzzy) dedup side by side, are
    * incremental, each ingesting only batches newer than its own target;
    * packing is corpus-global, so it rebuilds in full from the documents
    * both dedups keep — one base per cluster. */
  def curateModels(dir: Path, dataDir: Path): Unit = {
    write(dir, "models/curate/sources.yml",
      s"""version: 2
         |sources:
         |  - name: lake
         |    tables:
         |      - name: docs
         |        external:
         |          location: "${dataDir.resolve("docs")}"
         |""".stripMargin)
    def incr(up: String) =
      s"""select doc_id, batch_id, title, text from $up
         |{% if is_incremental() %}
         |where batch_id > (select max(batch_id) from {{ this }})
         |{% endif %}
         |""".stripMargin
    write(dir, "models/curate/cur_gate.sql", incr("{{ source('lake', 'docs') }}"))
    write(dir, "models/curate/cur_minhash.sql", incr("{{ ref('cur_gate') }}"))
    write(dir, "models/curate/cur_fuzzy.sql", incr("{{ ref('cur_gate') }}"))
    write(dir, "models/curate/cur_packed.sql",
      "select doc_id, batch_id, text from {{ ref('cur_minhash') }}\n" +
        "where doc_id in (select doc_id from {{ ref('cur_fuzzy') }})\n")
    write(dir, "models/curate/schema.yml",
      """version: 2
        |models:
        |  - name: cur_gate
        |    config:
        |      materialized: pipeline
        |      incremental: true
        |      steps:
        |        - op: gopher_gate
        |          text_col: text
        |  - name: cur_minhash
        |    config:
        |      materialized: pipeline
        |      incremental: true
        |      steps:
        |        - op: minhash_dedup
        |          text_col: text
        |          id_col: doc_id
        |          threshold: 0.8
        |  - name: cur_fuzzy
        |    config:
        |      materialized: pipeline
        |      incremental: true
        |      steps:
        |        - op: fuzzy_dedup
        |          str_col: title
        |          id_col: doc_id
        |          max_dist: 2
        |  - name: cur_packed
        |    config:
        |      materialized: pipeline
        |      steps:
        |        - op: token_count
        |          text_col: text
        |          out_col: n_tok
        |        - op: pack_sequences
        |          tokens_col: n_tok
        |          seq_len: 2048
        |          buckets: 16
        |""".stripMargin)
  }
}
