package perfbench

import graft.parsers.{MailParser, Pdf, TicketParser}

/** Direct timed calls into the three document parsers, on documents this
  * benchmark renders from the seed. One document in ten is malformed on
  * purpose (a ticket without its ticket-number anchor, a mail without its
  * amount), so the expected reject ratio is known. A well-formed document
  * that parses to the wrong record, or a malformed one that parses, is a
  * parser error. */
object Parsers {
  final case class Result(pdfUs: Double, ticketUs: Double, mailUs: Double,
                          rejectRatio: Double, expectedRejectRatio: Double, errors: Seq[String])

  private val n = 300

  private def bad(i: Int) = i % 10 == 7

  /** Median over `reps` passes of the per-document time, in microseconds. */
  private def timeUs[A](docs: IndexedSeq[A], reps: Int)(f: A => Any): Double = {
    docs.foreach(f) // warm-up pass
    val passes = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      docs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / docs.size
    }.sorted
    passes(reps / 2)
  }

  def run(seed: Long): Result = {
    val rnd = new scala.util.Random(seed)
    val errors = Seq.newBuilder[String]

    val tickets = (0 until n).map { i =>
      val items = (0 until 3 + rnd.nextInt(8)).map { j =>
        val categ = TicketParser.categories(rnd.nextInt(TicketParser.categories.size))
        val unitPrice = (100 + rnd.nextInt(90000)) / 100.0
        if (rnd.nextBoolean()) {
          val q = 1 + rnd.nextInt(4)
          (categ, s"PRODUCTO $i-$j", q.toLong, 0.0, unitPrice, q * unitPrice)
        } else {
          val kg = (50 + rnd.nextInt(2000)) / 1000.0
          (categ, s"PRODUCTO $i-$j", 1L, kg, unitPrice, BigDecimal(kg * unitPrice)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }.sortBy(_._1)
      val text = TicketParser.render(1000L + i, f"${1 + i % 28}%02d/0${1 + i % 9}/24", 0.0, items)
      val shown = if (bad(i)) text.replace("P.V. 001 Nro T.", "P.V. 001") else text
      (shown, items.size)
    }

    val mails = (0 until n).map { i =>
      val monto = f"$$${1 + rnd.nextInt(99)}.${rnd.nextInt(1000)}%03d,${rnd.nextInt(100)}%02d"
      val html = MailParser.renderHtml(f"${1 + i % 28}%02d/03/2024", "10:15", monto,
        s"COMERCIO_${rnd.nextInt(50)}", 1 + rnd.nextInt(6), f"${rnd.nextInt(10000)}%04d")
      val shown = if (bad(i)) html.replace(s"<p>Monto $monto</p>", "") else html
      MailParser.MailDoc(s"m$i", "2024-03-01", "banco@example.com", "Pago", shown, "")
    }

    val pdfs = tickets.map { case (text, _) => (text, Pdf.writePdf(text.split("\n").toSeq)) }

    var rejects = 0
    tickets.zipWithIndex.foreach { case ((text, k), i) =>
      val got = TicketParser.parse(text)
      if (got.isEmpty) rejects += 1
      if (bad(i) != got.isEmpty || (!bad(i) && got.size != k)) errors += s"ticket $i"
    }
    mails.zipWithIndex.foreach { case (m, i) =>
      val got = MailParser.parse(m)
      if (got.isEmpty) rejects += 1
      if (bad(i) != got.isEmpty) errors += s"mail $i"
    }
    pdfs.zipWithIndex.foreach { case ((text, bytes), i) =>
      if (Pdf.extractText(bytes).split("\n").map(_.trim).toSeq != text.split("\n").map(_.trim).toSeq)
        errors += s"pdf $i"
    }

    Result(
      pdfUs = timeUs(pdfs.map(_._2), 5)(Pdf.extractText),
      ticketUs = timeUs(tickets.map(_._1), 5)(TicketParser.parse),
      mailUs = timeUs(mails, 5)(MailParser.parse),
      rejectRatio = rejects.toDouble / (2 * n),
      expectedRejectRatio = 2 * (0 until n).count(bad).toDouble / (2 * n),
      errors = errors.result())
  }
}
