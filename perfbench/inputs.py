"""Seeded workload inputs and the independent oracle for the replay benchmark.

Everything here is numpy plus the Python standard library.  The engine's
package is not imported: the inputs stay frozen against package changes, and
the oracle (LWW state, accent fold, area mapping, table digest) is a second
implementation that the engine's output must agree with.
"""

from __future__ import annotations

import hashlib
import os
import re
import unicodedata
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_REPOS = 50
PATHS_PER_REPO = 200
STAGING_FILES = 8  # fixed, so the changelog layout does not depend on the host

_LANGS = ["py", "ts", "go", "rs", "java", "c", "md", "sql"]
_WORDS = [
    "Sumário", "Secção", "Decisão", "Relator", "Processo", "Acórdão",
    "merge", "commit", "refactor", "fix", "table", "index", "query",
]
# jurisprudence-style path pieces (non-ASCII, so the fold leaves its fast path)
_SECTIONS = ["Secção Cível", "Secção Criminal", "Secção Social", "Contencioso Administrativo"]
_DOCS = ["Sumário", "Acórdão", "Decisão Sumária", "Parecer"]

# the engine's documented area mapping (first key contained in the folded
# path wins), restated here so the oracle does not call package helpers
_AREAS = [
    ("civel", "Área Cível"),
    ("criminal", "Área Criminal"),
    ("social", "Área Social"),
    ("contencioso", "Contencioso"),
    ("src", "Código"),
]

DIGEST_COLS = [
    "repo", "path", "commit", "lang", "content", "ordinal",
    "content_sha", "title_norm", "area", "is_summary",
]

SCHEMA = pa.schema([
    ("epoch", pa.int64()), ("ordinal", pa.int64()), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
])

_MARKS = re.compile("[\u0300-\u036f]")
_WS = re.compile("[ \t\n\x0b\f\r]+")  # java.util.regex \s


def fold(s: str) -> str:
    """NFD, strip combining marks U+0300-U+036F, lower-case."""
    return _MARKS.sub("", unicodedata.normalize("NFD", s)).lower()


def _path(repo_idx: int, path_idx: int, accented: bool) -> str:
    if accented:
        sec = _SECTIONS[path_idx % len(_SECTIONS)]
        doc = _DOCS[(path_idx // 4) % len(_DOCS)]
        day, month = 1 + path_idx % 28, 1 + (path_idx // 28) % 12
        return f"Acórdãos/{sec}/{day:02d}-{month:02d}-2024/{doc} {repo_idx}-{path_idx}.pdf"
    lang = _LANGS[path_idx % len(_LANGS)]
    return f"src/dir{path_idx // 20}/file{path_idx}.{lang}"


def derived(path: str) -> tuple[str, str, bool]:
    """(title_norm, area, is_summary) of a path, as the extraction defines them."""
    title = _WS.sub(" ", fold(path.rsplit("/", 1)[-1])).strip(" ")
    low = fold(path)
    area = next((a for k, a in _AREAS if k in low), "Outros")
    return title, area, "sumario" in title


@dataclass
class Spec:
    """Shape of one workload's changelog."""

    base_events: int  # epoch 0: a tail's base, or a catch-up's warm-up epoch
    epoch_events: int  # every later epoch
    n_epochs: int  # epochs after the base
    accented_share: float  # share of keys with non-ASCII paths
    stale_share: float  # share of post-base events older than the key's state
    invalid_share: float  # share of rows with a null key or an unknown op
    skew: float = 3.0
    pct_update: float = 0.35
    pct_delete: float = 0.10


@dataclass
class Inputs:
    columns: dict[str, list]  # changelog columns, arrival order
    table: pa.Table  # the same rows as Arrow
    epochs: list[int]
    n_invalid: int
    n_stale: int
    n_post: int  # events after the base epoch
    keys_hot: list[tuple[str, str]] = field(default_factory=list)
    keys_cold: list[tuple[str, str]] = field(default_factory=list)
    digest: str = ""

    @property
    def n(self) -> int:
        return len(self.columns["ordinal"])

    def invalid_in(self, epochs: list[int]) -> int:
        c, want = self.columns, set(epochs)
        return sum(
            1 for e, r, o in zip(c["epoch"], c["repo"], c["op"])
            if e in want and (r is None or o not in ("I", "U", "D"))
        )

    def properties(self) -> dict[str, float]:
        paths = self.columns["path"]
        return {
            "events": self.n,
            "non_ascii_path_share": sum(1 for p in paths if p and not p.isascii()) / self.n,
            "stale_share": self.n_stale / max(1, self.n_post),
            "invalid_share": self.n_invalid / self.n,
        }


def generate(spec: Spec, seed: int) -> Inputs:
    """Build the changelog from ``seed`` alone (numpy ``default_rng``)."""
    rng = np.random.default_rng(seed)
    n = spec.base_events + spec.epoch_events * spec.n_epochs
    epoch = np.concatenate(
        [np.zeros(spec.base_events, np.int64)]
        + [np.full(spec.epoch_events, e + (1 if spec.base_events else 0), np.int64)
           for e in range(spec.n_epochs)]
    )
    repo = np.floor(rng.random(n) ** spec.skew * N_REPOS).astype(np.int64)
    pidx = rng.integers(0, PATHS_PER_REPO, n)
    u_op = rng.random(n)
    op = np.where(u_op < spec.pct_delete, "D",
                  np.where(u_op < spec.pct_delete + spec.pct_update, "U", "I")).astype(object)
    # accented keys are a seeded share of the key space, not of events
    accented_key = rng.random((N_REPOS, PATHS_PER_REPO)) < spec.accented_share
    # ordinals are spaced by 2 so a stale event (committed - 1) never ties
    ordinal = np.arange(n, dtype=np.int64) * 2 + 2

    # stale events: a post-base event re-targets a key that already has a
    # committed version and takes an ordinal just below it
    post = np.flatnonzero(epoch > 0) if spec.base_events else np.empty(0, np.int64)
    n_stale = int(round(len(post) * spec.stale_share))
    stale_rows = np.sort(rng.choice(post, n_stale, replace=False)) if n_stale else post[:0]
    stale_set = set(stale_rows.tolist())
    last: dict[tuple[int, int], int] = {}
    last_epoch = -1
    committed: dict[tuple[int, int], int] = {}
    for i in range(n):
        if epoch[i] != last_epoch:  # epochs commit in order
            committed.update(last)
            last_epoch = epoch[i]
        if i in stale_set:
            k = list(committed)[int(rng.integers(0, len(committed)))]
            repo[i], pidx[i] = k
            ordinal[i] = committed[k] - 1
            continue
        last[(int(repo[i]), int(pidx[i]))] = int(ordinal[i])

    # 40-word bodies drawn from a fixed pool; the "#ordinal" tail makes
    # every version's content distinct
    pool = [" ".join(_WORDS[j] for j in row) for row in rng.integers(0, len(_WORDS), (4096, 40))]
    bodies = [pool[j] for j in rng.integers(0, len(pool), n).tolist()]
    lang_idx = rng.integers(0, len(_LANGS), n)
    commit = rng.integers(0, 2**63 - 1, n, dtype=np.int64)

    paths = [
        [_path(r, p, bool(accented_key[r, p])) for p in range(PATHS_PER_REPO)]
        for r in range(N_REPOS)
    ]
    cols: dict[str, list] = {
        "epoch": epoch.tolist(),
        "ordinal": ordinal.tolist(),
        "op": op.tolist(),
        "repo": [f"repo-{r:04d}" for r in repo.tolist()],
        "path": [paths[r][p] for r, p in zip(repo.tolist(), pidx.tolist())],
        "commit": [f"{c:016x}" for c in commit.tolist()],
        "lang": [_LANGS[j] for j in lang_idx.tolist()],
        "content": [f"{b} #{o}" for b, o in zip(bodies, ordinal.tolist())],
    }

    # invalid rows: half lose their key, half carry an unknown op
    n_invalid = int(round(n * spec.invalid_share))
    if n_invalid:
        bad = rng.choice(n, n_invalid, replace=False)
        for j, i in enumerate(bad.tolist()):
            if j % 2:
                cols["repo"][i] = None
            else:
                cols["op"][i] = "X"

    # out-of-order arrival within each epoch
    order = np.lexsort((rng.random(n), epoch))
    cols = {k: [v[i] for i in order.tolist()] for k, v in cols.items()}

    # lookup keys: the hottest repo and a cold one, both present
    hot = sorted({(r, p) for r, p in zip(cols["repo"], cols["path"]) if r == "repo-0000"})
    cold_repo = f"repo-{N_REPOS - 1:04d}"
    cold = sorted({(r, p) for r, p in zip(cols["repo"], cols["path"]) if r == cold_repo})
    table = pa.table(cols, schema=SCHEMA)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, SCHEMA) as w:
        w.write_table(table)
    digest = hashlib.sha256(sink.getvalue()).hexdigest()
    return Inputs(
        cols, table, sorted(set(cols["epoch"])), n_invalid, n_stale, len(post), hot, cold, digest
    )


def stage(inputs: Inputs, directory: str) -> None:
    """Write the changelog rows as ``STAGING_FILES`` parquet files."""
    os.makedirs(directory, exist_ok=True)
    table = inputs.table
    step = -(-table.num_rows // STAGING_FILES)
    for i in range(STAGING_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(directory, f"part-{i:02d}.parquet"))


class Oracle:
    """LWW state of the changelog: the valid event with the highest ordinal
    per key wins; a winning delete leaves the key absent."""

    def __init__(self, inputs: Inputs, first_epoch: int = 0):
        c = inputs.columns
        self._c = c
        valid = [
            i for i in range(inputs.n)
            if c["epoch"][i] >= first_epoch and c["repo"][i] is not None
            and c["path"][i] is not None and c["op"][i] in ("I", "U", "D")
        ]
        valid.sort(key=lambda i: (c["epoch"][i], c["ordinal"][i]))
        self._by_epoch: dict[int, list[int]] = {}
        for i in valid:
            self._by_epoch.setdefault(c["epoch"][i], []).append(i)
        self.state: dict[tuple[str, str], int] = {}
        self.epoch = -1

    def advance(self, through_epoch: int) -> None:
        """Apply every epoch up to and including ``through_epoch``."""
        c, st = self._c, self.state
        for e in sorted(self._by_epoch):
            if self.epoch < e <= through_epoch:
                for i in self._by_epoch[e]:
                    k = (c["repo"][i], c["path"][i])
                    if k not in st or c["ordinal"][i] > c["ordinal"][st[k]]:
                        st[k] = i
        self.epoch = max(self.epoch, through_epoch)

    def row(self, key: tuple[str, str]) -> tuple[str, ...] | None:
        """The key's live row as digest-projection strings, or None."""
        i = self.state.get(key)
        if i is None or self._c["op"][i] == "D":
            return None
        c = self._c
        title, area, summary = derived(c["path"][i])
        return (
            c["repo"][i], c["path"][i], c["commit"][i], c["lang"][i], c["content"][i],
            str(c["ordinal"][i]), hashlib.sha256(c["content"][i].encode()).hexdigest(),
            title, area, "true" if summary else "false",
        )

    def digest(self) -> tuple[int, int, str]:
        """(n_rows, digest_xor, digest_sum) with ``table_digest``'s definition:
        sha256 over the NUL-joined projection, first 56 bits, xor and sum."""
        n = x = s = 0
        for k in self.state:
            r = self.row(k)
            if r is None:
                continue
            h = int(hashlib.sha256("\x00".join(r).encode()).hexdigest()[:14], 16)
            n, x, s = n + 1, x ^ h, s + h
        return n, x, str(s)

    def content_bytes(self, epochs: list[int]) -> int:
        """Payload bytes of the valid events of ``epochs``."""
        c = self._c
        return sum(len(c["content"][i].encode()) for e in epochs for i in self._by_epoch.get(e, []))
