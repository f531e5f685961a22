"""Range index + '$'-namespace search over compressed JSON archives.

Reference: clp-s RangeIndexWriter.hpp (non-overlapping [s, e) ranges, each
holding the per-file metadata fields _filename / _file_split_number /
_archive_creator_id — archive_constants.hpp range_index) and
search/EvaluateRangeIndexFilters.cpp (a '$' filter evaluates driver-side
against every range's fields; matching ranges rewrite into log_event_idx
bounds). Path bookkeeping flags: clp-s CommandLineArguments.cpp:479-566
(--normalize-paths / --remove-path-prefix / --remove-leading-slash) and
InputConfig.cpp:57-86 remove_path_prefix with its test_InputConfig.cpp
golden cases.
"""

import json
import os

import pytest

from clp_spark import cli
from clp_spark.operators.json_archive import (
    remove_path_prefix,
    search_json_archive,
    search_json_archives,
)
from clp_spark.operators.kql import (
    evaluate_range_index_filters,
    fold_range_index_const,
    has_range_index_filter,
    parse_kql,
)

# test_InputConfig.cpp:11-43, transcribed
PREFIX_OK = [
    ("abcd/efg", "abcd", "/efg"),
    ("abcd/efg", "abcd/", "/efg"),
    ("/abcd/efg", "/abcd", "/efg"),
    ("/abcd/efg", "/abcd/", "/efg"),
    ("abcd/../efg", "abcd/", "/../efg"),
    ("./efg", "./", "/efg"),
    ("/abcd/efg", "", "/abcd/efg"),
    ("/abcd/efg", "/", "/abcd/efg"),
]
PREFIX_FAIL = [("/abcd/efg", "/hijk"), ("abcd/efg", "hijk"), ("/a", "/a/b")]


def test_remove_path_prefix_goldens():
    for path, prefix, want in PREFIX_OK:
        assert remove_path_prefix(path, prefix) == want, (path, prefix)
    for path, prefix in PREFIX_FAIL:
        assert remove_path_prefix(path, prefix) is None, (path, prefix)


@pytest.fixture(scope="module")
def two_file_archive(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("rindex")
    a, b = root / "a.jsonl", root / "b.jsonl"
    a.write_text(
        '{"msg": "alpha", "level": 1}\n{"msg": "beta", "level": 2}\n'
    )
    b.write_text(
        '{"msg": "gamma", "level": 3}\n{"msg": "delta", "level": 4}\n'
    )
    arch = str(root / "arch")
    cli.main([
        "c", arch, str(a), str(b), "--json",
        "--remove-path-prefix", str(root), "--remove-leading-slash",
    ])
    return arch


def _msgs(df):
    return sorted(json.loads(r["json"])["msg"] for r in df.collect())


class TestRangeIndexWrite:
    def test_manifest_entries(self, two_file_archive):
        with open(os.path.join(two_file_archive, "manifest.json")) as f:
            rindex = json.load(f)["range_index"]
        assert len(rindex) == 2
        names = sorted(r["f"]["_filename"] for r in rindex)
        # prefix removed (leading '/' kept by remove_path_prefix), then
        # --remove-leading-slash strips it
        assert names == ["a.jsonl", "b.jsonl"]
        cids = {r["f"]["_archive_creator_id"] for r in rindex}
        assert len(cids) == 1 and all(cids)
        for r in rindex:
            assert r["f"]["_file_split_number"] == 0
            assert r["e"] == r["s"] + 2  # two records per file
        # non-overlapping ranges
        spans = sorted((r["s"], r["e"]) for r in rindex)
        assert spans[0][1] <= spans[1][0]

    def test_disable_log_order_drops_range_index(self, spark, tmp_path):
        src = tmp_path / "x.jsonl"
        src.write_text('{"k": 1}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), "--json", "--disable-log-order"])
        with open(os.path.join(arch, "manifest.json")) as f:
            manifest = json.load(f)
        # reference --disable-log-order: "Do not record the archive range
        # index"
        assert "range_index" not in manifest

    def test_normalize_paths_stores_realpath(self, spark, tmp_path):
        real = tmp_path / "real.jsonl"
        real.write_text('{"k": 1}\n')
        link = tmp_path / "link.jsonl"
        os.symlink(real, link)
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(link), "--json", "--normalize-paths"])
        with open(os.path.join(arch, "manifest.json")) as f:
            rindex = json.load(f)["range_index"]
        assert rindex[0]["f"]["_filename"] == os.path.realpath(str(real))


class TestMetaSearch:
    def test_filename_filter(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, '$_filename: "a.jsonl" AND level > 0'
        )
        assert _msgs(res) == ["alpha", "beta"]

    def test_not_filename(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, 'NOT $_filename: "a.jsonl" AND msg: *'
        )
        assert _msgs(res) == ["delta", "gamma"]

    def test_wildcard_value(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, '$_filename: "b.json*" AND msg: *'
        )
        assert _msgs(res) == ["delta", "gamma"]

    def test_no_match_is_empty(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, '$_filename: "zz.jsonl" AND msg: *'
        )
        assert res.count() == 0

    def test_creator_id_exists(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, "$_archive_creator_id: * AND level: 1"
        )
        assert _msgs(res) == ["alpha"]

    def test_split_number_range_op(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, "$_file_split_number >= 1 AND msg: *"
        )
        assert res.count() == 0

    def test_wildcard_column(self, spark, two_file_archive):
        # '$*' resolves every metadata field (test_kql's uncompressed twin)
        res = search_json_archive(
            spark, two_file_archive, '$*: "a.jsonl" AND level: 2'
        )
        assert _msgs(res) == ["beta"]

    def test_meta_on_orderless_archive_matches_nothing(self, spark, tmp_path):
        src = tmp_path / "x.jsonl"
        src.write_text('{"k": 1}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), "--json", "--disable-log-order"])
        res = search_json_archive(spark, arch, '$_filename: "*" AND k: 1')
        assert res.count() == 0


class TestMultiArchiveSplits:
    @pytest.fixture(scope="class")
    def split_archives(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("rsplit")
        a = root / "big.jsonl"
        a.write_text("".join(f'{{"i": {i}}}\n' for i in range(20)))
        b = root / "tiny.jsonl"
        b.write_text('{"i": 100}\n')
        out = str(root / "archs")
        cli.main([
            "c", out, str(a), str(b), "--json", "--target-encoded-size", "60",
        ])
        return out

    def test_split_numbers_increment(self, split_archives):
        pieces = []
        for d in sorted(os.listdir(split_archives)):
            with open(os.path.join(split_archives, d, "manifest.json")) as f:
                for r in json.load(f).get("range_index", []):
                    if r["f"]["_filename"].endswith("big.jsonl"):
                        pieces.append((r["s"], r["f"]["_file_split_number"]))
        assert len(pieces) > 1  # the file actually split across archives
        pieces.sort()
        assert [n for _s, n in pieces] == list(range(len(pieces)))

    def test_federated_meta_search(self, spark, split_archives):
        res = search_json_archives(
            spark, split_archives, '$_filename: "*big.jsonl" AND i < 3'
        )
        got = sorted(json.loads(r["json"])["i"] for r in res.collect())
        assert got == [0, 1, 2]
        # the tiny file's record is excluded by the '$' filter, not by data
        res2 = search_json_archives(
            spark, split_archives, '$_filename: "*tiny.jsonl" AND i: *'
        )
        assert [json.loads(r["json"])["i"] for r in res2.collect()] == [100]

    def test_federated_split_number(self, spark, split_archives):
        # split 0 of big.jsonl lives in exactly one archive
        res = search_json_archives(
            spark, split_archives,
            '$_filename: "*big.jsonl" AND $_file_split_number: 0 AND i: *',
        )
        aids = {r["archive_id"] for r in res.collect()}
        assert len(aids) == 1

    def test_federated_meta_search_every_split(self, spark, split_archives):
        """big.jsonl sits at a different log_event_idx range in each archive
        it split into: every archive scans with its own range-index
        rewrite, so the rows of every split come back."""
        res = search_json_archives(
            spark, split_archives, '$_filename: "*big.jsonl" AND i: *'
        )
        assert sorted(json.loads(r["json"])["i"] for r in res.collect()) == list(
            range(20)
        )

    def test_federated_no_match_prunes_all(self, spark, split_archives):
        res = search_json_archives(
            spark, split_archives, '$_filename: "absent" AND i: *'
        )
        assert res.count() == 0


class TestAstRewrite:
    RINDEX = [
        {"s": 0, "e": 5, "f": {"_filename": "x", "_file_split_number": 0,
                               "_archive_creator_id": "c"}},
        {"s": 5, "e": 9, "f": {"_filename": "y", "_file_split_number": 1,
                               "_archive_creator_id": "c"}},
    ]

    def test_fold_false_when_nothing_matches(self):
        ast = parse_kql('$_filename: "zz" AND a: 1')
        assert has_range_index_filter(ast)
        out = evaluate_range_index_filters(ast, self.RINDEX, "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is False

    def test_fold_unknown_with_match(self):
        ast = parse_kql('$_filename: "x" AND a: 1')
        out = evaluate_range_index_filters(ast, self.RINDEX, "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is None

    def test_or_of_meta_only_folds(self):
        ast = parse_kql('$_filename: "zz" OR $_filename: "qq"')
        out = evaluate_range_index_filters(ast, self.RINDEX, "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is False

    def test_ignore_case(self):
        ast = parse_kql('$_filename: "X" AND a: 1')
        out = evaluate_range_index_filters(
            ast, self.RINDEX, "log_event_idx", ignore_case=True
        )
        assert fold_range_index_const(out, "log_event_idx") is None

    def test_empty_index_matches_nothing(self):
        ast = parse_kql('$_filename: * AND a: 1')
        out = evaluate_range_index_filters(ast, None, "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is False


class TestNotSemantics:
    """NOT is consumed AT the '$' filter (the reference pushes NOT into
    the filter op via OrOfAndForm BEFORE EvaluateRangeIndexFilters, so
    the negated filter evaluates per range): over an empty or missing
    range index, NOT $f: v matches NOTHING — there are no ranges for the
    inverted op to match either."""

    RINDEX = [
        {"s": 0, "e": 5, "f": {"_filename": "x", "_file_split_number": 0,
                               "_archive_creator_id": "c"}},
        {"s": 5, "e": 9, "f": {"_filename": "y", "_file_split_number": 1,
                               "_archive_creator_id": "c"}},
    ]

    def test_not_over_missing_index_is_false(self):
        ast = parse_kql('NOT $_filename: "x" AND a: 1')
        out = evaluate_range_index_filters(ast, None, "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is False

    def test_not_over_empty_index_is_false(self):
        ast = parse_kql('NOT $_filename: "x" AND a: 1')
        out = evaluate_range_index_filters(ast, [], "log_event_idx")
        assert fold_range_index_const(out, "log_event_idx") is False

    def test_not_selects_complement_ranges(self):
        ast = parse_kql('NOT $_filename: "x"')
        out = evaluate_range_index_filters(
            ast, self.RINDEX, "log_event_idx"
        )
        # exactly y's range [5, 9) — rendered as idx>=5 AND idx<9
        assert repr(out).count("'>='") == 1
        assert "'5'" in repr(out) and "'9'" in repr(out)

    def test_double_not_cancels(self):
        a1 = evaluate_range_index_filters(
            parse_kql('NOT NOT $_filename: "x"'), self.RINDEX,
            "log_event_idx",
        )
        a2 = evaluate_range_index_filters(
            parse_kql('$_filename: "x"'), self.RINDEX, "log_event_idx"
        )
        assert repr(a1) == repr(a2)

    def test_de_morgan_over_mixed_subtree(self):
        # NOT (meta AND data) -> (NOT-meta ranges) OR NOT(data)
        ast = parse_kql('NOT ($_filename: "x" AND a: 1)')
        out = evaluate_range_index_filters(ast, self.RINDEX, "log_event_idx")
        r = repr(out)
        assert "op='OR'" in r and "Not(" in r and "'5'" in r

    def test_not_on_compressed_archive(self, spark, two_file_archive):
        res = search_json_archive(
            spark, two_file_archive, 'NOT $_filename: "a.jsonl" AND msg: *'
        )
        assert _msgs(res) == ["delta", "gamma"]

    def test_not_meta_on_indexless_archive_matches_nothing(
        self, spark, tmp_path
    ):
        src = tmp_path / "x.jsonl"
        src.write_text('{"k": 1}\n')
        arch = str(tmp_path / "arch")
        cli.main(["c", arch, str(src), "--json", "--disable-log-order"])
        res = search_json_archive(
            spark, arch, 'NOT $_filename: "other" AND k: 1'
        )
        assert res.count() == 0


class TestStorageLayoutInterplay:
    """'$' filters must compose with the two storage transforms that
    reroute table reads: packed single-file archives (ranged member
    extraction) and the combined small-table store (--min-table-size)."""

    def test_meta_search_over_packed_archive(self, spark, tmp_path, capsys):
        a = tmp_path / "p1.jsonl"
        a.write_text('{"m": "aa", "v": 1}\n{"m": "bb", "v": 2}\n')
        b = tmp_path / "p2.jsonl"
        b.write_text('{"m": "cc", "v": 3}\n')
        arch = str(tmp_path / "packed")
        cli.main([
            "c", arch, str(a), str(b), "--json", "--single-file-archive",
        ])
        capsys.readouterr()
        assert os.path.isfile(arch)  # really packed into one file
        cli.main(["s-kql", arch, '$_filename: "*p1.jsonl" AND v > 0'])
        out = capsys.readouterr().out.strip().splitlines()
        got = sorted(json.loads(ln)["m"] for ln in out if ln.startswith("{"))
        assert got == ["aa", "bb"]

    def test_meta_search_over_combined_store(self, spark, tmp_path):
        # two schemas so --min-table-size has tables to combine
        src = tmp_path / "c1.jsonl"
        src.write_text('{"a": 1}\n{"b": "x"}\n{"a": 2}\n')
        src2 = tmp_path / "c2.jsonl"
        src2.write_text('{"a": 3}\n')
        arch = str(tmp_path / "arch")
        cli.main([
            "c", arch, str(src), str(src2), "--json",
            "--min-table-size", str(1 << 20),
        ])
        with open(os.path.join(arch, "manifest.json")) as f:
            manifest = json.load(f)
        assert any(e.get("combined") for e in manifest["schemas"])
        res = search_json_archive(
            spark, arch, '$_filename: "*c2.jsonl" AND a: *'
        )
        got = [json.loads(r["json"])["a"] for r in res.collect()]
        assert got == [3]
        res2 = search_json_archive(
            spark, arch, 'NOT $_filename: "*c2.jsonl" AND a: *'
        )
        assert sorted(
            json.loads(r["json"])["a"] for r in res2.collect()
        ) == [1, 2]


def test_idx_filter_pushes_to_parquet_scan(spark, two_file_archive):
    """The rewritten '$' filter is plain log_event_idx bounds, so it
    reaches the parquet scan (PushedFilters/DataFilters) — at scale the
    scan row-group-prunes on the idx column, whose values are written in
    ingestion order (the 100x story: a one-file query touches ~one
    file's worth of row groups, not the archive)."""
    res = search_json_archive(
        spark, two_file_archive, '$_filename: "a.jsonl" AND level > 0'
    )
    plan = res._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("log_event_idx" in ln and "DataFilters" in ln
               for ln in scan_lines), plan
