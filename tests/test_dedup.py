"""Span-level duplicate detection: duplicate_spans / strip_spans geometry."""


def test_duplicate_spans_exact_geometry(spark):
    """Hand-built corpus pins the span algebra: a block repeated across
    two documents yields one maximal merged span per side (windows
    overlapping OR exactly adjacent must fuse — the seam case), interior
    unique text splits spans, short docs vanish, and the per-doc
    coordinates are 1-based inclusive."""
    from ds_caselaw_ingester_spark.operators.dedup import duplicate_spans

    block = " ".join(f"b{i}" for i in range(8))  # exactly one 8-gram
    docs = spark.createDataFrame(
        [
            # doc 1: block at tokens 1-8 and again at 11-18 (gap u1 u2)
            (1, block + " u1 u2 " + block),
            # doc 2: the same block once, inside unique padding
            (2, "x1 x2 x3 " + block + " y1"),
            # doc 3: fully unique, no duplicated windows
            (3, " ".join(f"z{i}" for i in range(12))),
            # doc 4: shorter than n tokens -> no grams at all
            (4, "t1 t2 t3"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicate_spans(docs, "doc_id", "text", n=8).collect()
    }
    assert got == {
        (1, 1, 8, 8),   # first copy of the block
        (1, 11, 18, 8), # second copy: gap 11-1=10 > 8 keeps them apart
        (2, 4, 11, 8),  # block sits at tokens 4-11 of doc 2
    }

    # Seam case: duplicated windows at positions p and p+n are exactly
    # adjacent intervals and MUST merge into one contiguous span, while
    # p and p+n+1 must NOT. doc 1 = B1B2 back-to-back: its duplicated
    # positions are exactly {1, 9} (the straddling windows 2-8 contain
    # doc-1-only token sequences), distance n -> ONE span 1-16. doc 2 =
    # B1 sep B2: duplicated positions {1, 10}, distance n+1 -> TWO
    # spans, and the seam token `sep` survives between them.
    blk2 = " ".join(f"c{i}" for i in range(8))
    docs2 = spark.createDataFrame(
        [(1, block + " " + blk2), (2, block + " sep " + blk2)],
        "doc_id long, text string",
    )
    spans2 = duplicate_spans(docs2, "doc_id", "text", n=8).collect()
    assert {
        (r["doc_id"], r["span_start"], r["span_end"]) for r in spans2
    } == {
        (1, 1, 16),
        (2, 1, 8),
        (2, 10, 17),
    }

    # min_count raises the bar: a gram seen twice stops qualifying.
    assert (
        duplicate_spans(docs2, "doc_id", "text", n=8, min_count=3).count() == 0
    )

    import pytest

    with pytest.raises(ValueError):
        duplicate_spans(docs, "doc_id", "text", n=1)
    with pytest.raises(ValueError):
        duplicate_spans(docs, "doc_id", "text", n=8, min_count=1)


def test_strip_spans_cut_geometry(spark):
    """The cut applied to the hand-built geometry corpus: covered
    tokens vanish, survivors keep their order, a fully-covered document
    comes back as the empty string (row retained), and documents with
    no spans pass through VERBATIM — including whitespace the
    tokenizer would otherwise normalize."""
    from ds_caselaw_ingester_spark.operators.dedup import (
        duplicate_spans,
        strip_spans,
    )

    block = " ".join(f"b{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, block + " u1 u2 " + block),
            (2, "x1 x2 x3 " + block + " y1"),
            (3, "z0 z1  z2\tz3"),  # unique -> verbatim, odd spacing kept
            (4, block),  # exactly the block: fully covered -> ""
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, "doc_id", "text", n=8)
    got = {r["doc_id"]: r["text"] for r in strip_spans(docs, "doc_id", "text", spans).collect()}
    assert got == {
        1: "u1 u2",
        2: "x1 x2 x3 y1",
        3: "z0 z1  z2\tz3",
        4: "",
    }
