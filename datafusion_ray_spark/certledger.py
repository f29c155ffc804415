"""Staleness-driven re-certification ledger — the rotation's successor.

The external driver certifies the FIRST 50 registry entries per round
against the DuckDB oracle (``CORRECTNESS_r{N}.json``); rounds 4-9 rotated
never-certified entries through that window until EVERY declared entry had
earned a driver row (192/192, round 9). Certification is not permanent,
though: optimizer, protocol, and source changes land under long-certified
entries every round, so from round 10 each window re-certifies the entries
whose IMPLEMENTATION CHANGED since their last driver row, then the
oldest-certified, with the TPC-H suite and the family flagships pinned.

This module makes that policy machine-checkable:

- ``build_ledger()`` maps every registry entry to (a) the repo files its
  implementation transitively lives in (its defining module plus the
  static import closure inside ``datafusion_ray_spark``, plus the registry
  and table-loading layers every entry runs through), (b) a content hash
  of those files, (c) the last round a driver ``CORRECTNESS_r*.json``
  recorded it green, and (d) the last round any closure file was touched
  (git commits mapped to rounds via the driver's ``round N:`` markers).
  An entry is STALE when its code path was touched after — or was never —
  driver-certified.
- ``pick_window()`` turns the ledger into the next certification window:
  pinned entries first, then rotating slots ranked stale-first /
  oldest-certified-first / name.
- ``python -m datafusion_ray_spark.certledger`` writes ``CERT_LEDGER.json``
  at the repo root. That file is the window's only home: the registry
  reads its ``"window"`` list to order its entries, so the window shipped
  to the driver IS the ledger's pick, and ``tests/test_cert_ledger.py``
  asserts the committed pick is reproducible from the repo state.

The file closure is conservative (file-level, transitive): touching a
shared module marks every entry that can reach it stale. When more entries
are stale than rotating slots, oldest-certified-first decides — exactly
the decay ordering a finite certification budget should spend.

Round 11 sharpens staleness to PER-ENTRY granularity inside declaration
modules: an entry's own declaration (its ``q("name", sql)`` /
``SuiteEntry("name", ...)`` call) is hashed as a FRAGMENT and the rest of
the module as a shared RESIDUAL, so appending a sibling query stales
nothing, editing one entry's SQL stales only it, and the assembly-only
``queries/registry.py`` leaves closures entirely (its per-entry run path —
``register_tables`` + the SQL text — is hashed via ``sources/tables.py``
and the fragment). See the "per-entry declaration fragments" section.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import re
import subprocess
from dataclasses import dataclass, field

PACKAGE = "datafusion_ray_spark"
PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(PACKAGE_DIR)

#: The ledger file. Its ``"window"`` list is the ONLY stored copy of the
#: certification window: ``queries.registry.build_registry`` orders its
#: entries by it, so regenerating the ledger moves the window without any
#: package edit (and without changing ``package_tree_hash``).
LEDGER_PATH = os.path.join(REPO_ROOT, "CERT_LEDGER.json")

#: Pinned every round after the TPC-H suite: the 8 family anchors, the
#: flagship answers that must stay CONTINUOUSLY driver-certified.
CERTIFICATION_FLAGSHIPS = [
    "dedup_minhash_lsh", "dedup_groups",      # near-dup pipeline + groups
    "sim_knn_graph",                          # ANN batch workload
    "join_asof",                              # temporal-join family anchor
    "ev_session_window",                      # event windowing anchor
    "text_token_stats",                       # text pipeline anchor
    "sketch_count_min",                       # mergeable-sketch anchor
    "mm_decode_features",                     # multimodal anchor
]

#: modules NEVER in closures (also invisible to import resolution, so
#: importing them doesn't pull them in transitively): ``queries.registry``
#: is assembly plumbing (round 11, was a closure LEAF in round 10): it
#: imports EVERY query/operator module to build the entry dict, so
#: expanding it fused all 192 closures, and even as a hashed leaf it was
#: touched every round (appends, ordering), which saturated the staleness
#: signal — the round-10 verdict's finding. Its only per-entry executable
#: logic is the ``_sql_entry`` wrapper (``register_tables`` +
#: ``spark.sql``), both sides of which ARE hashed: ``sources/tables.py``
#: joins every closure, and the SQL text itself is the entry's FRAGMENT
#: (below).
EXCLUDE_FROM_CLOSURE = (f"{PACKAGE}.queries.registry",)

_ROUND_MARKER = re.compile(r"^round (\d+): verdict/advice/correctness/bench")


# ---------------------------------------------------------------------------
# module map + static import closure


def _module_map() -> dict[str, str]:
    """Package module name -> repo-relative file path, for every .py file
    under the package (``datafusion_ray_spark.operators.dedup`` ->
    ``datafusion_ray_spark/operators/dedup.py``)."""
    out: dict[str, str] = {}
    for dirpath, _dirs, files in os.walk(PACKAGE_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, REPO_ROOT)
            parts = rel[:-3].split(os.sep)  # strip .py
            if parts[-1] == "__init__":
                parts = parts[:-1]
            name = ".".join(parts)
            if name in EXCLUDE_FROM_CLOSURE:
                continue
            out[name] = rel
    return out


def _imports_of(path: str, modname: str, modmap: dict[str, str]) -> set[str]:
    """Package-internal module names statically imported by ``path``.

    Resolves relative imports against ``modname`` and keeps only names
    that map to files inside the package; ``from X import Y`` also tries
    ``X.Y`` (submodule imports like ``from .sources import tables``)."""
    with open(os.path.join(REPO_ROOT, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    found: set[str] = set()

    def keep(candidate: str) -> None:
        if candidate in modmap:
            found.add(candidate)

    is_pkg = path.endswith("__init__.py")
    parts = modname.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                keep(alias.name)
                for i in range(1, alias.name.count(".") + 1):
                    keep(alias.name.rsplit(".", i)[0])
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0:
                base = node.module or ""
            else:
                # level=1 from a module: its package; from a package
                # __init__: itself. Each extra level climbs one package.
                climb = node.level - (1 if is_pkg else 0)
                anchor = parts[: len(parts) - climb] if climb else parts
                base = ".".join(anchor)
                if node.module:
                    base = f"{base}.{node.module}" if base else node.module
            if base:
                keep(base)
                for alias in node.names:
                    keep(f"{base}.{alias.name}")
    return found


def _closure(seeds: set[str], modmap: dict[str, str]) -> list[str]:
    """Transitive import closure (repo-relative paths) of seed modules."""
    seen: set[str] = set()
    todo = [m for m in seeds if m in modmap]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports_of(modmap[mod], mod, modmap) - seen)
    return sorted(modmap[m] for m in seen)


# ---------------------------------------------------------------------------
# git: commits -> rounds, file -> last touched round


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO_ROOT, capture_output=True, text=True,
        check=True,
    ).stdout


def _log_markers() -> list[tuple[str, int | None]]:
    """git log newest-first as (sha, marker round | None) — the ONE
    marker walk ``commit_rounds`` and ``_round_marker_shas`` share."""
    out: list[tuple[str, int | None]] = []
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subject = line.partition(" ")
        m = _ROUND_MARKER.match(subject)
        out.append((sha, int(m.group(1)) if m else None))
    return out


def commit_rounds() -> tuple[dict[str, int], int]:
    """(commit sha -> round it belongs to, current round).

    The driver commits ``round N: verdict/advice/correctness/bench`` as
    round N's closing marker, so commits NEWER than the newest marker are
    the current round (max marker + 1) and each older commit belongs to
    the first marker at-or-below it."""
    log = _log_markers()
    markers = [r for _sha, r in log if r is not None]
    newest = max(markers) if markers else 0  # max, not first: a reverted/
    current = newest + 1                     # reordered marker must not
    # shift every round assignment below it
    rounds: dict[str, int] = {}
    rnd = current
    for sha, marker in log:
        if marker is not None:
            rnd = marker
        rounds[sha] = rnd
    return rounds, current


def file_last_rounds() -> dict[str, int]:
    """Repo-relative path -> round of the newest commit touching it.
    One ``git log --name-only`` walk; files with uncommitted working-tree
    changes count as touched in the current round."""
    rounds, current = commit_rounds()
    out: dict[str, int] = {}
    sha = None
    for line in _git("log", "--name-only", "--format=%H").splitlines():
        if not line:
            continue
        if re.fullmatch(r"[0-9a-f]{40}", line):
            sha = line
        elif line not in out and sha is not None:
            out[line] = rounds[sha]
    dirty = _git("status", "--porcelain").splitlines()
    for line in dirty:
        path = line[3:].split(" -> ")[-1].strip()
        if path:
            out[path] = current
    return out


# ---------------------------------------------------------------------------
# per-entry declaration fragments (round 11)
#
# File-level closures alone can't tell "this operator's code changed" from
# "a sibling query was appended to the same module": the SQL suites pack
# ~40 QueryDefs per module and the extension suites declare many
# SuiteEntries per file, so any append staled every sibling and the
# staleness signal saturated (round-10 verdict). The fix: inside each
# DECLARATION module, an entry's own declaration — the innermost call
# expression carrying its name literal (``q("name", "SELECT ...")`` /
# ``SuiteEntry("name", run_fn, ...)``) — is hashed as that entry's
# FRAGMENT, and everything else in the module (helpers, run-callable
# bodies, shared constants) as the module's RESIDUAL shared by all its
# entries. Appending a declaration changes neither existing fragments nor
# the residual; editing one entry's SQL changes only its fragment; editing
# a shared helper changes only the residual (staling the module's entries,
# correctly, and nobody else's).
#
# Fragment history is computed per ROUND by extracting fragments from each
# round's marker-commit blob (plus the working tree for the current
# round), so "last touched" has the same round granularity as the
# file-level signal — without importing historical code.


@dataclass
class FragmentState:
    """Today's fragment view plus per-round touch history."""

    modules: set[str]                      # repo-relative fragmented paths
    frag_now: dict[str, dict[str, str]]    # path -> name -> fragment text
    frag_touch: dict[tuple[str, str], int]  # (path, name) -> round
    residual_now: dict[str, str]           # path -> residual sha
    residual_touch: dict[str, int]         # path -> round

    def has(self, name: str) -> bool:
        return any(name in frags for frags in self.frag_now.values())


#: one source line with its terminator, split the way the Python parser
#: (and ``ast.get_source_segment``) splits lines: only ``\r\n``, ``\r`` and
#: ``\n`` end a line, unlike ``str.splitlines``.
_SOURCE_LINE = re.compile(r"[^\r\n]*(?:\r\n?|\n)|[^\r\n]+")


def _segmenter(source: str):
    """``node -> ast.get_source_segment(source, node)``, with the module
    split into lines once instead of on every call (the stdlib re-splits
    the whole module per call, which dominated ``build_ledger``). Node
    columns are UTF-8 byte offsets, so each line is sliced as bytes."""
    lines = _SOURCE_LINE.findall(source)
    encoded = [ln.encode() for ln in lines]

    def segment(node) -> str | None:
        end_lineno = getattr(node, "end_lineno", None)
        end_col = getattr(node, "end_col_offset", None)
        if end_lineno is None or end_col is None:
            return None
        first, last = node.lineno - 1, end_lineno - 1
        if first == last:
            return encoded[first][node.col_offset:end_col].decode()
        return (
            encoded[first][node.col_offset:].decode()
            + "".join(lines[first + 1:last])
            + encoded[last][:end_col].decode()
        )

    return segment


def _extract_fragments(
    source: str, names: set[str], no_claim: frozenset[str] = frozenset()
) -> tuple[dict[str, str], str]:
    """(entry name -> declaration fragment text, residual sha) for one
    module source. A fragment is the source segment of the INNERMOST call
    expression containing the entry's name as a string literal; the
    residual is the module text with every claimed segment blanked.
    ``no_claim`` lists function names that must stay in the shared
    residual even when singly-referenced here (symbols other package
    modules import — their editors' staleness must not be captured by
    one entry)."""
    tree = ast.parse(source)
    segment = _segmenter(source)
    lines = source.splitlines(keepends=True)
    offsets = [0]
    for ln in lines:
        offsets.append(offsets[-1] + len(ln))

    def span(node) -> tuple[int, int]:
        start = offsets[node.lineno - 1] + node.col_offset
        end = offsets[node.end_lineno - 1] + node.end_col_offset
        return start, end

    frags: dict[str, set[str]] = {}
    claimed: list[tuple[int, int]] = []
    claiming_calls: list[tuple[str, ast.Call]] = []

    def visit(node, call_stack):
        if isinstance(node, ast.Call):
            call_stack = (*call_stack, node)
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value in names
            and call_stack
        ):
            inner = call_stack[-1]
            seg = segment(inner)
            if seg is not None:
                frags.setdefault(node.value, set()).add(seg)
                claimed.append(span(inner))
                claiming_calls.append((node.value, inner))
        for child in ast.iter_child_nodes(node):
            visit(child, call_stack)

    visit(tree, ())

    # Second pass: an entry's declaration usually only REFERENCES its
    # implementation (``SuiteEntry("x", run_x, x_oracle(), ...)``). Pull a
    # module-level function into the entry's fragment when the declaration
    # is its ONLY reference in the module — then editing ``run_x`` stales
    # exactly entry x, not every entry homed in the file. Functions
    # referenced more than once (shared helpers, oracle builders used by
    # several declarations, f-string interpolated SQL helpers) stay in the
    # shared residual: a single-count guard keeps this strictly
    # conservative — a def can never be claimed away from an entry that
    # also uses it.
    module_defs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    ref_count: dict[str, int] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and n.id in module_defs:
            ref_count[n.id] = ref_count.get(n.id, 0) + 1
    for entry_name, call in claiming_calls:
        cstart, cend = span(call)
        for n in ast.walk(call):
            if not (isinstance(n, ast.Name) and n.id in module_defs):
                continue
            if ref_count.get(n.id, 0) != 1 or n.id in no_claim:
                continue  # shared helper / exported symbol — residual
            fdef = module_defs[n.id]
            fstart, fend = span(fdef)
            if fstart <= cstart and cend <= fend:
                continue  # def encloses the declaration itself
            seg = segment(fdef)
            if seg is not None:
                frags[entry_name].add(seg)
                claimed.append((fstart, fend))

    residual_parts: list[str] = []
    pos = 0
    for start, end in sorted(claimed):
        if start < pos:  # nested inside an already-claimed span
            pos = max(pos, end)
            continue
        residual_parts.append(source[pos:start])
        pos = end
    residual_parts.append(source[pos:])
    # Whitespace-only leftovers (the newline separating an APPENDED
    # declaration from its neighbors) are dropped so that adding a new
    # entry leaves the residual — and therefore every sibling's staleness
    # — untouched; any real code change survives in some chunk.
    residual_sha = hashlib.sha256(
        "\x00".join(p.strip() for p in residual_parts if p.strip()).encode()
    ).hexdigest()[:16]
    return (
        {n: "\n<|>\n".join(sorted(s)) for n, s in frags.items()},
        residual_sha,
    )


def _round_marker_shas() -> dict[int, str]:
    """Round -> the sha of its closing ``round N:`` marker commit (the
    newest one wins if a marker was ever re-issued), derived from the
    same marker walk ``commit_rounds`` uses."""
    out: dict[int, str] = {}
    for sha, rnd in _log_markers():
        if rnd is not None and rnd not in out:
            out[rnd] = sha
    return out


def _exported_symbols_map(modmap: dict[str, str]) -> dict[str, frozenset[str]]:
    """Module path -> symbol names OTHER package modules import from it
    (``from X import y``). Fragment-claiming bans these: a function other
    modules execute must stale through the shared residual — being
    singly-referenced in its HOME module does not make it private."""
    out: dict[str, set[str]] = {}
    for modname, path in modmap.items():
        with open(os.path.join(REPO_ROOT, path), encoding="utf-8") as fh:
            try:
                tree = ast.parse(fh.read(), filename=path)
            except SyntaxError:  # pragma: no cover - broken working tree
                continue
        is_pkg = path.endswith("__init__.py")
        parts = modname.split(".")
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom):
                continue
            if node.level == 0:
                base = node.module or ""
            else:
                climb = node.level - (1 if is_pkg else 0)
                anchor = parts[: len(parts) - climb] if climb else parts
                base = ".".join(anchor)
                if node.module:
                    base = f"{base}.{node.module}" if base else node.module
            if base in modmap and modmap[base] != path:
                out.setdefault(modmap[base], set()).update(
                    a.name for a in node.names
                )
    return {k: frozenset(v) for k, v in out.items()}


def _source_at_round(
    path: str, rnd: int, current: int, markers: dict[int, str]
) -> str | None:
    """Module source as of round ``rnd``'s end (marker-commit blob), or
    the working tree for the current round; None when absent."""
    if rnd >= current:
        full = os.path.join(REPO_ROOT, path)
        if not os.path.exists(full):
            return None
        with open(full, encoding="utf-8") as fh:
            return fh.read()
    sha = markers.get(rnd)
    if sha is None:
        return None
    try:
        return _git("show", f"{sha}:{path}")
    except subprocess.CalledProcessError:
        return None  # module didn't exist at that round


#: fragment_state memo, keyed by (HEAD, working-tree hash, names): the
#: git-show history walk dominates build_ledger's cost and the test suite
#: builds the ledger several times against an unchanged tree. Any package
#: edit (the touch-one-file test's working-tree probe included) changes
#: the tree hash and misses the memo.
_FRAGMENT_MEMO: dict[tuple, "FragmentState"] = {}


def fragment_state(names: set[str]) -> FragmentState:
    """Discover today's declaration modules (any package module whose
    source carries an entry-name literal inside a call) and compute each
    fragment's and residual's last-changed round from marker-commit blobs.
    A fragment/residual counts as touched in round r when its text first
    appears or differs from round r-1's; parse failures of a historical
    blob are treated as a change (conservative)."""
    memo_key = (
        _git("rev-parse", "HEAD").strip(),
        package_tree_hash(),
        frozenset(names),
    )
    hit = _FRAGMENT_MEMO.get(memo_key)
    if hit is not None:
        return hit
    modmap = _module_map()
    markers = _round_marker_shas()
    current = (max(markers) + 1) if markers else 1

    # Exported-symbol ban from TODAY's import graph, applied uniformly to
    # every round (a time-varying ban would make one semantic change look
    # like many fragment touches).
    exported = _exported_symbols_map(modmap)

    modules: set[str] = set()
    frag_now: dict[str, dict[str, str]] = {}
    residual_now: dict[str, str] = {}
    for path in modmap.values():
        with open(os.path.join(REPO_ROOT, path), encoding="utf-8") as fh:
            src = fh.read()
        frags, residual = _extract_fragments(
            src, names, exported.get(path, frozenset())
        )
        if frags:
            modules.add(path)
            frag_now[path] = frags
            residual_now[path] = residual

    frag_touch: dict[tuple[str, str], int] = {}
    residual_touch: dict[str, int] = {}
    for path in sorted(modules):
        no_claim = exported.get(path, frozenset())
        prev_frags: dict[str, str] | None = None  # None = module absent
        prev_residual: str | None = None
        # most modules are unchanged across most rounds: extract once per
        # distinct source text
        extracted: dict[str, tuple[dict[str, str], str]] = {}
        for rnd in range(1, current + 1):
            src = _source_at_round(path, rnd, current, markers)
            if src is None:
                frags, residual = {}, None
            elif src in extracted:
                frags, residual = extracted[src]
            else:
                try:
                    frags, residual = _extract_fragments(src, names,
                                                         no_claim)
                    extracted[src] = (frags, residual)
                except SyntaxError:  # pragma: no cover - historic blob
                    frags, residual = {}, f"unparseable-r{rnd}"
            if residual != prev_residual:
                residual_touch[path] = rnd
            for name, text in frags.items():
                if prev_frags is None or prev_frags.get(name) != text:
                    frag_touch[(path, name)] = rnd
            prev_frags, prev_residual = frags, residual
    state = FragmentState(
        modules=modules,
        frag_now=frag_now,
        frag_touch=frag_touch,
        residual_now=residual_now,
        residual_touch=residual_touch,
    )
    _FRAGMENT_MEMO.clear()  # one live tree state at a time is enough
    _FRAGMENT_MEMO[memo_key] = state
    return state


# ---------------------------------------------------------------------------
# certification history


def certified_rounds(before_round: int | None = None) -> dict[str, int]:
    """Entry name -> newest round with a GREEN driver-oracle row (err
    null, rows/schema match, hash not refuted) across CORRECTNESS_r*.json.

    ``before_round`` bounds the evidence to rounds STRICTLY BELOW it: the
    round-N window is picked from rounds 1..N-1, so a CORRECTNESS_r{N}
    file appearing on disk mid-round must not retroactively change the
    pick (the freshness test recomputes the ledger at judge time, after
    the driver has written the current round's results)."""
    import glob

    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        if before_round is not None and rnd >= before_round:
            continue
        with open(path, encoding="utf-8") as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            green = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            if green:
                out[name] = max(out.get(name, 0), rnd)
    return out


# ---------------------------------------------------------------------------
# the ledger


@dataclass
class LedgerEntry:
    name: str
    files: list[str]
    code_hash: str
    last_certified_round: int | None
    last_touched_round: int
    stale: bool
    reasons: list[str] = field(default_factory=list)
    fragment_hash: str | None = None  # own-declaration hash (round 11)
    #: round 12: the entry's OWN declaration fragment (its q()/SuiteEntry
    #: call plus any singly-referenced run callable) changed after — or it
    #: was never — driver-certified. Shared-residual churn stales ~3/4 of
    #: the registry every round (144 stale for 20 slots in r12), and
    #: certification-age alone then starves exactly the entries whose
    #: implementation genuinely changed — the r11 verdict's finding #4.
    own_decl_stale: bool = False
    #: round the own declaration fragment last changed (0 = unknown/never;
    #: only meaningful when the entry is fragmented).
    own_decl_touched_round: int = 0


def _entry_seed_modules(registry) -> dict[str, set[str]]:
    """Entry name -> defining package modules. SQL-suite entries map to
    the module declaring their QueryDef; extension entries to the module
    defining (or closing over) their run callable."""
    from .queries import coverage, coverage2, coverage3, coverage4, pipeline, tpch

    sql_home: dict[str, str] = {}
    for mod, queries in (
        (tpch, tpch.TPCH_QUERIES),
        (coverage, coverage.COVERAGE_QUERIES),
        (coverage2, coverage2.COVERAGE2_QUERIES),
        (coverage3, coverage3.COVERAGE3_QUERIES),
        (coverage4, coverage4.COVERAGE4_QUERIES),
        (pipeline, pipeline.PIPELINE_QUERIES),
    ):
        for qdef in queries.values():
            sql_home[qdef.name] = mod.__name__

    seeds: dict[str, set[str]] = {}
    for name, entry in registry.items():
        # tables.py (view registration + schema normalization) is on every
        # entry's run path and IS expanded; registry.py is assembly-only
        # and excluded from closures entirely (EXCLUDE_FROM_CLOSURE).
        mods = {f"{PACKAGE}.sources.tables"}
        if name in sql_home:
            mods.add(sql_home[name])
        else:
            run_mod = getattr(entry.run, "__module__", None)
            if run_mod and run_mod.startswith(PACKAGE):
                mods.add(run_mod)
            else:  # pragma: no cover - nothing maps here today
                mods.add(f"{PACKAGE}.operators.suite")
        seeds[name] = mods
    return seeds


def build_ledger(registry=None) -> dict[str, LedgerEntry]:
    if registry is None:
        from .queries.registry import build_registry

        registry = build_registry()
    modmap = _module_map()
    touched = file_last_rounds()
    _, current = commit_rounds()
    certified = certified_rounds(before_round=current)
    seeds = _entry_seed_modules(registry)
    frag = fragment_state(set(registry))

    file_sha: dict[str, bytes] = {}

    def sha_of(rel: str) -> bytes:
        if rel not in file_sha:
            with open(os.path.join(REPO_ROOT, rel), "rb") as fh:
                file_sha[rel] = hashlib.sha256(fh.read()).digest()
        return file_sha[rel]

    closure_cache: dict[frozenset, list[str]] = {}
    ledger: dict[str, LedgerEntry] = {}
    for name in registry:
        key = frozenset(seeds[name])
        if key not in closure_cache:
            closure_cache[key] = _closure(set(key), modmap)
        files = closure_cache[key]
        # An entry whose declaration can't be located anywhere falls back
        # to whole-file treatment for every closure member (conservative).
        fragmented = frag.has(name)

        h = hashlib.sha256()
        touches: list[tuple[int, str]] = []
        own_frag = hashlib.sha256()
        own_touch = 0
        for f in files:
            h.update(f.encode())
            if fragmented and f in frag.modules:
                # shared part of a declaration module: its residual
                h.update(frag.residual_now[f].encode())
                touches.append((frag.residual_touch.get(f, 0),
                                f"{f} (shared)"))
                ftext = frag.frag_now[f].get(name)
                if ftext is not None:  # the entry's own declaration(s)
                    h.update(ftext.encode())
                    own_frag.update(ftext.encode())
                    frt = frag.frag_touch.get((f, name), 0)
                    own_touch = max(own_touch, frt)
                    touches.append((frt, f"{f} (own declaration)"))
            else:
                h.update(sha_of(f))
                touches.append((touched.get(f, 0), f))

        last_cert = certified.get(name)
        last_touch = max((r for r, _ in touches), default=0)
        stale = last_cert is None or last_touch > last_cert
        # Non-fragmented entries can't separate "own" from "shared"
        # touches — conservatively treat their staleness as own-caused.
        own_decl_stale = stale and (
            not fragmented or last_cert is None or own_touch > last_cert
        )
        reasons = []
        if last_cert is None:
            reasons.append("never driver-certified")
        elif last_touch > last_cert:
            reasons.append(
                f"code path touched in r{last_touch} after certification "
                f"in r{last_cert}: "
                + ", ".join(
                    what for r, what in touches if r > last_cert
                )[:400]
            )
        ledger[name] = LedgerEntry(
            name=name,
            files=files,
            code_hash=h.hexdigest()[:16],
            last_certified_round=last_cert,
            last_touched_round=last_touch,
            stale=stale,
            reasons=reasons,
            fragment_hash=own_frag.hexdigest()[:16] if fragmented else None,
            own_decl_stale=own_decl_stale,
            own_decl_touched_round=own_touch,
        )
    return ledger


def pick_window(
    ledger: dict[str, LedgerEntry],
    pinned: list[str],
    n: int = 50,
) -> list[str]:
    """The next driver window: ``pinned`` first (registry declaration
    order — the TPC-H suite + family flagships), then rotating slots
    ranked own-declaration-stale first (entries whose own q()/run
    implementation changed since certification — these are the ones a
    re-certification actually de-risks), most-recently-rewritten first
    within that tier (a this-round rewrite carries more mis-certification
    risk than one that has survived local oracles since r4), then
    residual-stale, then oldest-certified-first, name as the tiebreak."""
    rotating = sorted(
        (e for name, e in ledger.items() if name not in set(pinned)),
        key=lambda e: (
            not e.own_decl_stale,
            -(e.own_decl_touched_round if e.own_decl_stale else 0),
            not e.stale,
            e.last_certified_round if e.last_certified_round is not None else -1,
            e.name,
        ),
    )
    return list(pinned) + [e.name for e in rotating[: n - len(pinned)]]


def pinned_names() -> list[str]:
    """The window's fixed prefix: the TPC-H suite (declaration order) +
    ``CERTIFICATION_FLAGSHIPS``."""
    from .queries.tpch import TPCH_QUERIES

    return [q.name for q in TPCH_QUERIES.values()] + list(
        CERTIFICATION_FLAGSHIPS
    )


def package_tree_hash() -> str:
    """One hash over every package source file's CURRENT bytes (working
    tree, not HEAD). Stamped into the ledger at generation; the freshness
    test recomputes it, so ANY package edit after regeneration — committed
    or not — fails loudly until the ledger is regenerated. This enforces
    regenerate-LAST (round-10 verdict #1: a ledger generated before the
    round's final code commits recorded hashes the driver never
    certified)."""
    modmap = _module_map()
    paths = sorted(modmap.values()) + [f"{PACKAGE}/queries/registry.py"]
    h = hashlib.sha256()
    for rel in sorted(set(paths)):
        h.update(rel.encode())
        with open(os.path.join(REPO_ROOT, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def main() -> None:
    from .queries.registry import build_registry

    registry = build_registry()
    ledger = build_ledger(registry)
    _rounds, current = commit_rounds()
    pinned = pinned_names()
    window = pick_window(ledger, pinned)
    payload = {
        "generated_at_commit": _git("rev-parse", "HEAD").strip(),
        "package_tree_hash": package_tree_hash(),
        "current_round": current,
        "window_size": 50,
        "policy": (
            "window = pinned (tpch + family flagships) + rotating slots "
            "ranked stale-first / oldest-certified-first / name; stale = "
            "code-path file closure touched after (or never) driver-"
            "certified"
        ),
        "pinned": pinned,
        "rotating": window[len(pinned):],
        "window": window,
        "n_stale": sum(e.stale for e in ledger.values()),
        "entries": {
            e.name: {
                "last_certified_round": e.last_certified_round,
                "last_touched_round": e.last_touched_round,
                "stale": e.stale,
                "code_hash": e.code_hash,
                "fragment_hash": e.fragment_hash,
                "files": e.files,
                "reasons": e.reasons,
            }
            for e in ledger.values()
        },
    }
    out = LEDGER_PATH
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, indent=1, sort_keys=False)
        fh.write("\n")
    stale = [e.name for e in ledger.values() if e.stale]
    print(f"wrote {out}: {len(ledger)} entries, {len(stale)} stale, "
          f"round {current}")
    print("rotating window:")
    for name in window[len(pinned):]:
        e = ledger[name]
        print(f"  {name}: cert r{e.last_certified_round} "
              f"touched r{e.last_touched_round} stale={e.stale}")


if __name__ == "__main__":
    main()
