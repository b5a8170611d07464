"""F8 against the REAL entity_ruler dictionary
(/root/reference/NER_model/entity_ruler/patterns.jsonl — 25,456 lines,
12,299 unique (pattern, id) rows, patterns up to 16 tokens) plus the
surface-form fidelity rule for id-less patterns (reference demo.py:28-29
emits ent.text — original casing — when a pattern has no id)."""

from __future__ import annotations

import os

import pytest

from datapipelinedemo_spark.functions.ner import (
    REFERENCE_PATTERNS,
    extract_phrases,
    load_pattern_rows,
    pattern_table,
    pattern_table_from_rows,
)

needs_dict = pytest.mark.skipif(
    not os.path.exists(REFERENCE_PATTERNS), reason="reference dict absent"
)


@needs_dict
def test_loader_shape():
    rows = load_pattern_rows(REFERENCE_PATTERNS)
    assert len(rows) == 12299
    assert max(r[1] for r in rows) == 16
    # every kept pattern in this dictionary carries an id
    assert all(r[3] is not None for r in rows)


@needs_dict
def test_full_dictionary_longest_match(spark):
    """Hand-checked longest-match pins: nested real patterns (e.g.
    'olive tapenade' over 'olive', 'ground pepper' over 'ground')
    must resolve by spaCy filter_spans greedy order (len desc, start
    asc), uncovered shorter matches survive."""
    texts = [
        (1, "I love olive oil and plain olive tapenade"),
        (2, "ground cumin with ground cinnamon and plain ground pepper"),
        (3, "unsalted butter melts over white sugar and soy sauce"),
        (4, "nothing culinary here just spark shuffles"),
        (5, "garlic cloves and garlic and vanilla extract"),
    ]
    df = spark.createDataFrame(texts, "id long, text string")
    out = {
        r.id: r.All_phrases
        for r in extract_phrases(
            df, "text", pattern_table(spark, REFERENCE_PATTERNS), "id"
        ).collect()
    }
    assert out[1] == ["Olive Oil", "Olive Tapenade", "Plain"]
    assert out[2] == ["Ground Cumin", "Ground Cinnamon", "Ground Pepper", "Plain"]
    assert out[3] == ["Unsalted Butter", "White Sugar", "Soy Sauce"]
    assert out[4] == ["empty"]
    assert out[5] == ["Garlic Cloves", "Vanilla Extract", "Garlic"]


def test_idless_pattern_emits_surface_casing(spark):
    """Patterns without an ent_id emit the ORIGINAL surface form like
    the reference's ent.text, not the lowercased pattern. Distinct
    casings are distinct phrases (reference set() semantics)."""
    pats = pattern_table_from_rows(
        spark, [("tonic", 1, "Brand", None), ("gin tonic", 2, "Brand", None)]
    )
    df = spark.createDataFrame(
        [(1, "Tonic TONIC tonic"), (2, "try Gin Tonic today")],
        "id long, text string",
    )
    out = {
        r.id: r.All_phrases
        for r in extract_phrases(df, "text", pats, "id").collect()
    }
    assert out[1] == ["Tonic", "TONIC", "tonic"]
    # multi-token surface: original casing, single-space joined
    assert out[2] == ["Gin Tonic"]
