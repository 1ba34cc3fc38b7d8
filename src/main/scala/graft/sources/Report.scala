package graft.sources

import java.awt.{BasicStroke, Color, Font, Graphics2D, RenderingHints}
import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Presentation sinks — the Spark-native face of the reference's two
  * report outputs: the matplotlib multi-panel bar-chart PNGs
  * (`spark_eda.py:390,457,560,657,739` — 2×2 `plt.subplots` grids of
  * titled bar charts saved via `plt.savefig`) and the styled HTML
  * report document (`convert_md_to_html.py:1-97`). Rendering is pure
  * JDK (Graphics2D + ImageIO), zero new dependencies, headless-safe.
  *
  * Scale posture: these are DRIVER-side sinks by design, exactly like
  * the reference (matplotlib renders a `collect()`ed result). They
  * accept only BOUNDED, already-aggregated frames — `chartPng` caps the
  * bars it takes (`maxBars`) with a deterministic total order, so a
  * misrouted fact table cannot pull 100 TB to the driver; the compute
  * that produced the frame stays distributed. */
object Report {

  /** One titled bar panel: (label, value) pairs, pre-ordered. */
  final case class Panel(title: String, bars: Seq[(String, Double)])

  private val axisColor = new Color(0x33, 0x33, 0x33)
  private val barColor = new Color(0x47, 0x6f, 0xb8) // matplotlib-ish steel blue
  private val gridColor = new Color(0xdd, 0xdd, 0xdd)

  /** Margins inside one panel: left, right, top, bottom. */
  private val (mL, mR, mT, mB) = (56, 16, 34, 44)

  private def drawPanel(g: Graphics2D, p: Panel,
                        x0: Int, y0: Int, w: Int, h: Int): Unit = {
    g.setRenderingHint(RenderingHints.KEY_TEXT_ANTIALIASING,
      RenderingHints.VALUE_TEXT_ANTIALIAS_ON)
    val (plotX, plotY) = (x0 + mL, y0 + mT)
    val (plotW, plotH) = (w - mL - mR, h - mT - mB)
    g.setColor(axisColor)
    g.setFont(new Font(Font.SANS_SERIF, Font.BOLD, 13))
    g.drawString(p.title, x0 + mL, y0 + 22)
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 10))
    // bars render non-negative magnitudes: negatives clamp to zero, and
    // an all-nonpositive panel scales against 1.0 so the tick labels
    // read 0 / 0.5 / 1 instead of denormal garbage
    val vmax = p.bars.map(_._2).foldLeft(0.0)(math.max)
    val maxV = if (vmax > 0) vmax else 1.0
    // horizontal gridlines + y tick labels at 0, ½, max
    Seq(0.0, 0.5, 1.0).foreach { f =>
      val y = plotY + plotH - (f * plotH).toInt
      g.setColor(gridColor)
      g.drawLine(plotX, y, plotX + plotW, y)
      g.setColor(axisColor)
      g.drawString(f"${maxV * f}%.4g", x0 + 4, y + 4)
    }
    // axes
    g.setColor(axisColor)
    g.setStroke(new BasicStroke(1.5f))
    g.drawLine(plotX, plotY, plotX, plotY + plotH)
    g.drawLine(plotX, plotY + plotH, plotX + plotW, plotY + plotH)
    // bars: fixed 70% fill of each slot (matplotlib's default width)
    val n = p.bars.size
    if (n > 0) {
      val slot = plotW.toDouble / n
      val barW = math.max(1, (slot * 0.7).toInt)
      p.bars.zipWithIndex.foreach { case ((label, v), i) =>
        val v0 = math.max(0.0, v)
        val bh = math.max(if (v0 > 0) 1 else 0, (v0 / maxV * plotH).toInt)
        val bx = plotX + (i * slot + (slot - barW) / 2).toInt
        g.setColor(barColor)
        g.fillRect(bx, plotY + plotH - bh, barW, bh)
        g.setColor(axisColor)
        val lab = if (label.length > 12) label.take(11) + "…" else label
        val lw = g.getFontMetrics.stringWidth(lab)
        g.drawString(lab, plotX + (i * slot + slot / 2).toInt - lw / 2,
          plotY + plotH + 14)
      }
    }
  }

  /** Render one 640×480 bar chart to PNG bytes. */
  def chartPng(panel: Panel): Array[Byte] =
    panelsPng(Seq(panel), cols = 1)

  /** Render a grid of bar charts to one PNG — the reference's 2×2
    * `plt.subplots` figure shape (`spark_eda.py:395,560`). */
  def panelsPng(panels: Seq[Panel], cols: Int = 2,
                panelWidth: Int = 640, panelHeight: Int = 480): Array[Byte] = {
    require(panels.nonEmpty && cols >= 1)
    val rows = (panels.size + cols - 1) / cols
    val img = new BufferedImage(panelWidth * math.min(cols, panels.size),
      panelHeight * rows, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try {
      g.setColor(Color.WHITE)
      g.fillRect(0, 0, img.getWidth, img.getHeight)
      panels.zipWithIndex.foreach { case (p, i) =>
        drawPanel(g, p, (i % cols) * panelWidth, (i / cols) * panelHeight,
          panelWidth, panelHeight)
      }
    } finally g.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Bounded chart SINK for an aggregated frame: takes the top
    * `maxBars` rows of (labelCol, valueCol) under a deterministic total
    * order (value desc, label asc — same convention as every gate
    * LIMIT) and writes one 640×480 bar-chart PNG. The cap is the
    * driver-safety contract: this sink can never collect more than
    * `maxBars` rows. */
  def chartSink(df: DataFrame, labelCol: String, valueCol: String,
                title: String, path: String, maxBars: Int = 20): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      chartPng(Panel(title, topBars(df, labelCol, valueCol, maxBars))))

  // ---------------------------------------------------------------------------
  // HTML report (convert_md_to_html.py's document shape, sans markdown dep)
  // ---------------------------------------------------------------------------

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")

  /** Render a bounded frame as an HTML table fragment (escaped).
    * Rows beyond `maxRows` are cut in the FRAME'S OWN order — pass an
    * ordered frame (every gate query already ends in a total order);
    * an unordered over-limit frame cuts nondeterministically. */
  def htmlTable(df: DataFrame, maxRows: Int = 1000): String = {
    val cols = df.columns
    val rows = df.limit(maxRows).collect()
    val header = cols.map(c => s"<th>${esc(c)}</th>").mkString
    val body = rows.map { (r: Row) =>
      cols.indices.map { i =>
        val v = if (r.isNullAt(i)) "null" else r.get(i).toString
        s"<td>${esc(v)}</td>"
      }.mkString("<tr>", "", "</tr>")
    }.mkString("\n")
    s"<table>\n<thead><tr>$header</tr></thead>\n<tbody>\n$body\n</tbody>\n</table>"
  }

  /** Full styled HTML document around named report sections — the
    * document wrapper `convert_md_to_html.py:12-75` builds (title,
    * charset, body styling, h1/h2 rules), with DataFrame tables as the
    * section bodies instead of converted markdown; each table shows at
    * most 1000 rows. */
  def htmlReport(title: String, sections: Seq[(String, DataFrame)]): String = {
    val body = sections.map { case (name, df) =>
      s"<h2>${esc(name)}</h2>\n${htmlTable(df)}"
    }.mkString("\n")
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |<meta charset="utf-8">
       |<title>${esc(title)}</title>
       |<style>
       |body { font-family: Arial, sans-serif; max-width: 1200px;
       |       margin: 0 auto; padding: 20px; line-height: 1.6; color: #333; }
       |h1 { color: #2c3e50; border-bottom: 3px solid #3498db;
       |     padding-bottom: 10px; }
       |h2 { color: #34495e; margin-top: 30px;
       |     border-bottom: 2px solid #ecf0f1; padding-bottom: 5px; }
       |table { border-collapse: collapse; margin: 12px 0; }
       |th, td { border: 1px solid #ccc; padding: 4px 10px; text-align: left; }
       |th { background: #f4f6f8; }
       |</style>
       |</head>
       |<body>
       |<h1>${esc(title)}</h1>
       |$body
       |</body>
       |</html>""".stripMargin
  }

  // ---------------------------------------------------------------------------
  // The reference's five EDA figures (spark_eda.py:390,457,560,657,739)
  // ---------------------------------------------------------------------------

  /** Top-`k` (label, value) pairs of a bounded aggregated frame under a
    * deterministic total order. */
  private def topBars(df: DataFrame, label: String, value: String,
                      k: Int): Seq[(String, Double)] =
    df.select(col(label).cast("string"), col(value).cast("double"))
      .orderBy(col(value).desc, col(label).asc)
      .limit(k).collect()
      .map(r => (if (r.isNullAt(0)) "null" else r.getString(0),
        if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toSeq

  /** As-ordered (label, value) pairs — for frames whose OWN total
    * ordering is the story (years, months, buckets); the limit rides
    * that upstream order. */
  private def orderedBars(df: DataFrame, label: String, value: String,
                          k: Int = 40): Seq[(String, Double)] =
    df.select(col(label).cast("string"), col(value).cast("double"))
      .limit(k).collect()
      .map(r => (if (r.isNullAt(0)) "null" else r.getString(0),
        if (r.isNullAt(1)) 0.0 else r.getDouble(1))).toSeq

  /** Render the reference's five 4-panel EDA figures (same filenames as
    * `spark_eda.py`'s `figs/` output) from the engine's own query
    * results. Marks are uniformly bars — the reference mixes barh /
    * line / twin-axis / pie, which is styling, not analytics; every
    * panel's DATA is the corresponding gate query's result. Returns the
    * five written paths. */
  def edaFigures(spark: org.apache.spark.sql.SparkSession, dir: String,
                 outDir: String): Seq[String] = {
    val ga = graft.operators.GameAnalytics
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def put(name: String, panels: Seq[Panel]): String = {
      val path = s"$outDir/$name"
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        panelsPng(panels, cols = 2))
      path
    }
    // queries feeding more than one panel run ONCE and are sliced per
    // panel from the same collected result
    def collected(df: DataFrame): Seq[Map[String, Any]] = {
      val cols = df.columns
      df.collect().toSeq.map(r => cols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) null else r.get(i)) }.toMap)
    }
    def slice(rows: Seq[Map[String, Any]], label: String, value: String,
              k: Int, byValue: Boolean): Seq[(String, Double)] = {
      val pairs = rows.map { m =>
        (Option(m(label)).map(_.toString).getOrElse("null"),
          Option(m(value)).map(_.toString.toDouble).getOrElse(0.0))
      }
      (if (byValue) pairs.sortBy { case (l, v) => (-v, l) } else pairs).take(k)
    }
    val g01 = collected(ga.g01GenreRevenue(spark, dir))
    val g02 = collected(ga.g02DevMetrics(spark, dir))
    val g03 = collected(ga.g03YearlyTrend(spark, dir))
    Seq(
      put("task1_rdd_analysis.png", Seq(
        Panel("Top genres by revenue", slice(g01, "Genre", "total_revenue", 10, byValue = true)),
        Panel("Top developers by revenue", slice(g02, "Developer", "total_revenue", 10, byValue = true)),
        Panel("Yearly revenue trend", slice(g03, "Year", "total_revenue", 40, byValue = false)),
        Panel("Avg owners by price bucket", orderedBars(ga.g04PriceOwnerBuckets(spark, dir), "price_category", "avg_owners")))),
      put("task2_dataframe_sql_analysis.png", Seq(
        Panel("Top developer's hit games", topBars(ga.g05TopDevHits(spark, dir), "Name", "revenue", 10)),
        Panel("Genre avg price (top 15)", topBars(ga.g06GenrePriceStats(spark, dir), "Genre", "avg_price", 15)),
        Panel("Most prolific developers", topBars(ga.g07DevGameDist(spark, dir), "Developer", "game_count", 15)),
        Panel("Multi-genre performance", orderedBars(ga.g08MultiGenrePerf(spark, dir), "genre_count", "avg_revenue")))),
      put("market_depth_analysis.png", Seq(
        Panel("Releases by month", orderedBars(ga.g09MonthDistribution(spark, dir), "Month", "game_count")),
        Panel("Owners distribution", orderedBars(ga.g10OwnersRanges(spark, dir), "owners_range", "game_count")),
        Panel("Top genre combos", topBars(ga.g11GenreCombos(spark, dir), "genres_clean", "total_revenue", 10)),
        Panel("Price range counts", orderedBars(ga.g19PriceRanges(spark, dir), "price_range", "game_count")))),
      put("developer_genre_depth_analysis.png", Seq(
        Panel("Dev avg revenue per game", topBars(ga.g12DevAvgRevenue(spark, dir), "Developer", "avg_revenue_per_game", 15)),
        Panel("Developer Pareto (cum %)", orderedBars(ga.g13DevPareto(spark, dir), "Developer", "cum_percent", 20)),
        Panel("Genre game counts", slice(g01, "Genre", "game_count", 10, byValue = true)),
        Panel("Dev total owners", slice(g02, "Developer", "total_owners", 10, byValue = true)))),
      put("time_series_trend_analysis.png", Seq(
        Panel("Yearly avg price", orderedBars(ga.g14YearlyAvgPrice(spark, dir), "Year", "avg_price")),
        Panel("Yearly avg owners", orderedBars(ga.g15YearlyAvgOwners(spark, dir), "Year", "avg_owners")),
        Panel("Yearly game count", slice(g03, "Year", "game_count", 40, byValue = false)),
        Panel("Yearly total revenue", slice(g03, "Year", "total_revenue", 40, byValue = false)))))
  }
}
