"""Round-11 plan-evidence pins (VERDICT r10 item 8: every plan claim in the
optimization log must cite a grep-able count against the checked-in dump).

Two layers:

- dump pins: the counts OPTIMIZATION_r11.md quotes are asserted against the
  committed ``plans/r11`` captures, so the narrative and the artifacts cannot
  drift apart (the r10 verdict caught a "8 Exchanges" claim whose dump
  grepped at 34).
- live pins: the same shape properties are asserted against the CURRENT
  plans, so a code change that silently regresses the optimization (e.g. the
  cosine reverting to a struct fold, or the ANN join width falling back to
  AQE coalescing) fails here even though every oracle would still pass.
"""

from __future__ import annotations

from pathlib import Path

R11 = Path(__file__).resolve().parent.parent / "plans" / "r11"


def _count(name: str, token: str) -> int:
    return (R11 / name).read_text().count(token)


def test_dump_cosine_fold_counts():
    """OPTIMIZATION_r11.md §1: sim_knn_join plan goes from ONE struct-
    accumulating fold to THREE primitive folds."""
    before = _call_bodies((R11 / "sim_knn_join_before.txt").read_text(), "aggregate(")
    after = _call_bodies((R11 / "sim_knn_join_after.txt").read_text(), "aggregate(")
    assert ["struct(" in f for f in before] == [True]
    assert ["struct(" in f for f in after] == [False, False, False]


def test_dump_ann_exchange_counts():
    """OPTIMIZATION_r11.md §3: the explicit join-width repartition and the
    skinny pair dedup ADD exchanges (6 -> 10) while the heavy payload
    exchange disappears — the claim quotes both numbers."""
    assert _count("dedup_embed_ann_before.txt", "Exchange") == 6
    assert _count("dedup_embed_ann_after.txt", "Exchange") == 10


def _call_bodies(text: str, call: str) -> list[str]:
    """The full text of every ``call(...)`` in ``text``, parentheses balanced."""
    bodies = []
    start = text.find(call)
    while start != -1:
        depth, i = 0, start + len(call) - 1
        for i in range(i, len(text)):
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            if depth == 0:
                break
        bodies.append(text[start : i + 1])
        start = text.find(call, start + 1)
    return bodies


def test_live_cosine_is_three_primitive_folds(spark):
    from hudi_examples_spark.operators.llm_pipeline import sim_knn_join
    from hudi_examples_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMALL

    text = explain_str(sim_knn_join(spark, SF_SMALL), "formatted")
    folds = _call_bodies(text, "aggregate(")
    assert len(folds) == 3, "cosine must stay 3 primitive folds"
    # primitive: no fold builds a struct (named_struct / struct), as the
    # pre-r11 single fold did
    assert not [f for f in folds if "struct(" in f.lower()]


def test_live_ann_join_width_is_pinned(spark):
    """The bucket-join repartition must stay a user-specified width
    (REPARTITION_BY_NUM) — if it degrades to an AQE-coalescible exchange the
    quadratic rescore serializes again (measured 3.5x slower)."""
    from hudi_examples_spark.operators.llm_pipeline2 import dedup_embed_ann
    from hudi_examples_spark.plans.inspect import explain_str
    from tests.conftest import SF_SMALL

    text = explain_str(dedup_embed_ann(spark, SF_SMALL), "formatted")
    assert "REPARTITION_BY_NUM" in text
    # and the pair dedup must shuffle scores, not embeddings: no exchange row
    # may carry two array payloads after the join
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(\[?d1", text):
        window = text[m.start() : m.start() + 400]
        assert "emb" not in window, "pair dedup exchange must not carry embeddings"


def test_live_plane_literals_parse_bit_exact(spark):
    """The LSH plane matrices ride ONE SQL-parsed literal; parsing must be
    IEEE-bit-exact for every plane value actually used (incl. e-notation)."""
    import struct

    from pyspark.sql import functions as F

    from hudi_examples_spark.functions.vectors import _planes_sql
    from hudi_examples_spark.operators.llm_pipeline import _PLANES
    from hudi_examples_spark.operators.llm_pipeline2 import _TABLES

    for planes in [_PLANES, *_TABLES]:
        got = (
            spark.range(1)
            .select(F.expr(_planes_sql(planes)).alias("p"))
            .collect()[0]["p"]
        )
        flat_got = [struct.pack("d", x) for row in got for x in row]
        flat_want = [struct.pack("d", float(x)) for row in planes for x in row]
        assert flat_got == flat_want
