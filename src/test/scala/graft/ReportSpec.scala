package graft

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import graft.sources.Report
import graft.sources.Report.Panel

class ReportSpec extends SparkSpec {
  import spark.implicits._

  private val bars = Seq(("alpha", 100.0), ("beta", 50.0), ("gamma", 25.0))

  test("chartPng: decodable PNG, right dims, white ground, blue bars") {
    val png = Report.chartPng(Panel("t", bars))
    val img = ImageIO.read(new ByteArrayInputStream(png))
    assert(img.getWidth == 640 && img.getHeight == 480)
    assert(img.getRGB(639, 0) == java.awt.Color.WHITE.getRGB,
      "margin corner must be background")
    // bar geometry: slot i center x; the tallest bar (alpha, first slot)
    // must be filled near the plot top, the shortest (gamma) must not be
    val (mL, mR, mT, mB) = (56, 16, 34, 44)
    val plotW = 640 - mL - mR
    def slotCenterX(i: Int) = mL + (i * plotW / 3.0 + plotW / 6.0).toInt
    val barRGB = new java.awt.Color(0x47, 0x6f, 0xb8).getRGB
    val nearTopY = mT + 10
    assert(img.getRGB(slotCenterX(0), nearTopY) == barRGB,
      "max bar must reach the top of the plot area")
    assert(img.getRGB(slotCenterX(2), nearTopY) != barRGB,
      "quarter-height bar must not reach the top")
    // all three bars present just above the x axis
    val nearBaseY = 480 - mB - 4
    (0 to 2).foreach(i => assert(img.getRGB(slotCenterX(i), nearBaseY) == barRGB,
      s"bar $i missing at its slot"))
    // half-height check for beta: filled at 25% height, empty at 75%
    val plotH = 480 - mT - mB
    assert(img.getRGB(slotCenterX(1), mT + plotH - plotH / 4) == barRGB)
    assert(img.getRGB(slotCenterX(1), mT + plotH / 4) != barRGB)
  }

  test("chartPng: negative values clamp to zero, all-zero panels render sanely") {
    val neg = ImageIO.read(new ByteArrayInputStream(
      Report.chartPng(Panel("neg", Seq(("a", -5.0), ("b", 2.0))))))
    assert(neg != null && neg.getWidth == 640)
    val zeros = ImageIO.read(new ByteArrayInputStream(
      Report.chartPng(Panel("z", Seq(("a", 0.0), ("b", 0.0))))))
    assert(zeros != null, "an all-zero panel must still render (ticks vs 1.0)")
  }

  test("panelsPng: 2x2 grid composes four panels at full size") {
    val png = Report.panelsPng(
      (1 to 4).map(i => Panel(s"p$i", bars)), cols = 2,
      panelWidth = 320, panelHeight = 240)
    val img = ImageIO.read(new ByteArrayInputStream(png))
    assert(img.getWidth == 640 && img.getHeight == 480)
  }

  test("chartSink caps, orders deterministically, and writes a real PNG") {
    val df = Seq(("c", 3.0), ("a", 9.0), ("b", 9.0), ("d", 1.0))
      .toDF("label", "value")
    val path = java.nio.file.Files.createTempFile("graft_chart", ".png")
    try {
      Report.chartSink(df, "label", "value", "top", path.toString, maxBars = 3)
      val img = ImageIO.read(path.toFile)
      assert(img != null && img.getWidth == 640 && img.getHeight == 480)
    } finally java.nio.file.Files.delete(path)
  }

  test("htmlReport: styled document, escaped cells, bounded rows") {
    val df = Seq((1L, "<script>alert(1)</script>"), (2L, "b & c"))
      .toDF("id", "payload")
    val html = Report.htmlReport("T & co", Seq("sec<1>" -> df))
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<title>T &amp; co</title>"))
    assert(html.contains("<h2>sec&lt;1&gt;</h2>"))
    assert(html.contains("&lt;script&gt;alert(1)&lt;/script&gt;"))
    assert(html.contains("b &amp; c"))
    assert(!html.contains("<script>"), "cell content must never inject markup")
    val capped = Report.htmlTable(df, maxRows = 1)
    assert(capped.linesIterator.count(_.startsWith("<tr>")) == 1)
  }

  test("edaFigures: the reference's five figures render and decode") {
    val out = java.nio.file.Files.createTempDirectory("graft_figs").toString
    try {
      val paths = Report.edaFigures(spark, sf, out)
      assert(paths.map(_.split('/').last) == Seq(
        "task1_rdd_analysis.png", "task2_dataframe_sql_analysis.png",
        "market_depth_analysis.png", "developer_genre_depth_analysis.png",
        "time_series_trend_analysis.png"))
      val barRGB = new java.awt.Color(0x47, 0x6f, 0xb8).getRGB
      paths.foreach { p =>
        val img = ImageIO.read(new java.io.File(p))
        assert(img != null && img.getWidth == 1280 && img.getHeight == 960,
          s"$p must be a decodable 2x2 grid")
        // all four panels are genuinely DRAWN, not just allocated: each
        // quadrant must contain at least one bar-colored pixel (every
        // g-catalog query is non-empty at this SF)
        for (qx <- 0 to 1; qy <- 0 to 1) {
          val found = (0 until 640 by 4).exists { dx =>
            (0 until 480 by 4).exists { dy =>
              img.getRGB(qx * 640 + dx, qy * 480 + dy) == barRGB
            }
          }
          assert(found, s"$p quadrant ($qx,$qy) has no bars — empty panel")
        }
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("the g01-shaped flow: aggregate distributed, chart the bounded result") {
    val top = graft.operators.GameAnalytics.g01GenreRevenue(spark, sf)
    val path = java.nio.file.Files.createTempFile("graft_g01", ".png")
    try {
      Report.chartSink(top, top.columns(0), top.columns(1),
        "genre revenue", path.toString, maxBars = 15)
      assert(ImageIO.read(path.toFile) != null)
    } finally java.nio.file.Files.delete(path)
  }
}
