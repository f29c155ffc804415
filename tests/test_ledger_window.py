"""The certification window's one home is CERT_LEDGER.json: the registry
orders itself by the ledger's ``"window"`` list, survives a missing ledger
or a renamed entry, and the ledger's source slicer is exactly
``ast.get_source_segment``."""

from __future__ import annotations

import ast
import json

from datafusion_ray_spark.queries import registry


def test_segmenter_matches_get_source_segment():
    """Columns are UTF-8 byte offsets: non-ASCII text before a fragment on
    the same line (and on earlier lines) must not shift the slice; CRLF
    and lone CR line ends split like the parser splits them."""
    from datafusion_ray_spark.certledger import _segmenter

    source = (
        "NOTE = 'café ☕ naïve'\r\n"
        "x = {'ключ': q('alpha', 'SELECT ü FROM t')}\n"
        "def run_beta(s):\r"
        "    return s + 'ß'\n"
        "E('beta', run_beta,\n"
        "  '多行')\n"
        "y = 1"
    )
    segment = _segmenter(source)
    nodes = [n for n in ast.walk(ast.parse(source)) if hasattr(n, "lineno")]
    assert len(nodes) > 20
    for node in nodes:
        assert segment(node) == ast.get_source_segment(source, node)
    assert segment(ast.parse("a")) is None  # Module: no location


def test_registry_order_without_ledger(monkeypatch, tmp_path):
    """No ledger file: declaration order, which starts with TPC-H."""
    default = registry.build_registry()
    monkeypatch.setattr(registry, "LEDGER_PATH", str(tmp_path / "none.json"))
    fallback = registry.build_registry()
    assert set(fallback) == set(default)
    assert list(fallback)[:22] == [f"q{i}" for i in range(1, 23)]


def test_registry_skips_names_gone_from_the_registry(monkeypatch, tmp_path):
    """A ledger window naming an entry that no longer exists (renamed or
    deleted) still builds the registry, so the ledger can be regenerated."""
    default = registry.build_registry()
    path = tmp_path / "CERT_LEDGER.json"
    path.write_text(json.dumps({"window": ["q2", "renamed_away", "q1"]}))
    monkeypatch.setattr(registry, "LEDGER_PATH", str(path))
    got = registry.build_registry()
    assert list(got)[:3] == ["q2", "q1", "q3"]
    assert set(got) == set(default)
