"""The seeded input generators: determinism and the reference's quirks."""

import filecmp
import os
import re
import xml.etree.ElementTree as ET

import corpus
import pharma_xml


def _files(d):
    return sorted(os.listdir(d))


def test_same_seed_same_xml_bytes(tmp_path):
    a = pharma_xml.generate(str(tmp_path / "a"), 7, 500)
    b = pharma_xml.generate(str(tmp_path / "b"), 7, 500)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    for name in _files(tmp_path / "a"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)
    assert a.expected == b.expected


def test_different_seed_different_xml(tmp_path):
    pharma_xml.generate(str(tmp_path / "a"), 7, 500)
    pharma_xml.generate(str(tmp_path / "b"), 8, 500)
    assert any(
        not filecmp.cmp(tmp_path / "a" / n, tmp_path / "b" / n, shallow=False)
        for n in _files(tmp_path / "a")
    )


def test_file_split_is_4_4_3_plus_three_tails():
    sizes = pharma_xml.file_sizes(10_000)
    assert sizes[3:] == [20, 20, 20]
    assert sum(sizes) == 10_000
    a, b, c = sizes[:3]
    assert a == b and abs(c / a - 3 / 4) < 0.01


def test_xml_keeps_reference_quirks(tmp_path):
    c = pharma_xml.generate(str(tmp_path), 3, 2_000)
    reps = {r.get("rID") for r in ET.parse(c.reps_path).getroot()}
    ids_per_file, rep_ids, dates = [], set(), []
    for p in c.txn_paths:
        root = ET.parse(p).getroot()
        ids_per_file.append({t.findtext("txnID") for t in root})
        rep_ids |= {t.findtext("repID") for t in root}
        dates += [t.findtext("date") for t in root]
    assert ids_per_file[0] & ids_per_file[1]  # txn_id duplicated across files
    assert all(r.isdigit() for r in rep_ids)  # no 'r' prefix
    assert {"r" + r for r in rep_ids} - reps  # some reps absent from the dim
    assert all(re.fullmatch(r"[1-9]\d?/[1-9]\d?/\d{4}", d) for d in dates)
    assert any(re.match(r"\d/\d/", d) for d in dates)  # non-padded


def test_parquet_corpus_is_deterministic(tmp_path):
    a = corpus.write_corpus(str(tmp_path / "a"), 5, 0.01)
    b = corpus.write_corpus(str(tmp_path / "b"), 5, 0.01)
    assert a == b and set(a) == set(corpus.TABLES)
    for t in corpus.TABLES:
        assert filecmp.cmp(tmp_path / "a" / f"{t}.parquet", tmp_path / "b" / f"{t}.parquet",
                           shallow=False)
