"""Drain template mining — the pure-Python core: the literal reference port
plus the scalar helpers (tokenize, mask, variables, FNV template ids) that
the distributed miner, the pandas oracle and the tests share.

``DrainTree`` is a literal, row-at-a-time port of the reference algorithm
(internal/compression/drain/drain.go), the reference behaviour the unit
tests ported from drain_test.go pin. Order-SENSITIVE, exactly like the
reference.

The distributed miner does not run ``DrainTree``. It runs the canonical,
order-FREE per-leaf loop ``miner.cluster_leaf`` (SURVEY §4.3.1) over
*distinct masked signatures* per tree-leaf group, in the deterministic order
of their first occurrence ``(conv_id, turn_idx)``. Its template IDs are
minted here (``template_id_of``) from the FINAL generalized template string,
so an ID is a pure function of its template — reproducible at any
parallelism.

Known, intentional divergences of the canonical loop from the literal
reference (documented per SURVEY §7.5):
  - The reference mints the cluster ID from the FIRST log's masked tokens at
    creation time and never re-hashes after generalization (drain.go:279-305);
    the canonical loop hashes the final template.
  - The reference's wildcard tree-descent fallback (drain.go:233-237) lets a
    log with a concrete token match a cluster whose key token was masked; the
    canonical loop groups strictly by masked leaf coordinates. Both agree
    whenever masking is consistent across occurrences of a pattern — which
    is the case by construction, since masking is a pure function of the
    token.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

from ..config import WILDCARD, DrainConfig

# drain.go:107-122 — compiled with Python re (same RE2-compatible patterns).
_VARIABLE_RES = [
    re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    re.compile(
        r"\b[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}\b"
    ),
    re.compile(r"\b[0-9a-fA-F]{8,}\b"),
    re.compile(r"\b\d+\b"),
    re.compile(r"/[^\s]+"),
    re.compile(r"https?://[^\s]+"),
    re.compile(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
]


def fnv64a(s: str) -> int:
    """FNV-1a 64-bit over UTF-8 bytes (drain.go:300-305 / hash/fnv)."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def template_id_of(template: str) -> str:
    """``tmpl_%x`` of the FNV-64a hash (drain.go:304), computed over the
    final template string (canonical-variant divergence, see module doc)."""
    return f"tmpl_{fnv64a(template):x}"


def template_ids_batch(strings) -> list[str]:
    """Vectorized FNV-64a template IDs for a batch of strings — numpy across
    the batch (one pass per byte POSITION, not per byte), identical output to
    ``template_id_of``. Used by the giant-leaf singleton fallback where the
    per-row Python loop would be the hot path."""
    import numpy as np

    data = [s.encode("utf-8") for s in strings]
    n = len(data)
    if n == 0:
        return []
    m = max(len(d) for d in data)
    lens = np.array([len(d) for d in data])
    mat = np.zeros((n, max(m, 1)), dtype=np.uint64)
    for i, d in enumerate(data):
        if d:
            mat[i, : len(d)] = np.frombuffer(d, dtype=np.uint8)
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for p in range(m):
        active = lens > p
        h[active] = (h[active] ^ mat[active, p]) * prime  # uint64 wraps = Go's overflow
    return [f"tmpl_{int(x):x}" for x in h]


def tokenize(content: str) -> list[str]:
    """strings.Fields (drain.go:172-176): whitespace split, no empties."""
    return content.split()


def is_variable(token: str) -> bool:
    """drain.go:192-206: ParseFloat success OR any pattern substring-match."""
    try:
        float(token)  # Python float() ≈ Go ParseFloat for decimal/inf/nan forms
        return True
    except ValueError:
        pass
    if token.lower() in ("inf", "infinity", "nan", "+inf", "-inf"):
        return True
    return any(p.search(token) for p in _VARIABLE_RES)


def preprocess_tokens(tokens: list[str]) -> list[str]:
    """drain.go:179-189."""
    return [WILDCARD if is_variable(t) else t for t in tokens]


def similarity(template: list[str], log: list[str]) -> float:
    """drain.go:263-276: fraction of positions equal or wildcard-in-template."""
    if len(template) != len(log):
        return 0.0
    matches = sum(1 for a, b in zip(template, log) if a == b or a == WILDCARD)
    return matches / len(template)


def generalize(cluster_tokens: list[str], tokens: list[str]) -> list[str]:
    """drain.go:353-361: differing positions → wildcard."""
    return [
        a if i < len(tokens) and a == tokens[i] else (a if i >= len(tokens) else WILDCARD)
        for i, a in enumerate(cluster_tokens)
    ]


def extract_variables(template: str, log_content: str) -> dict[str, str]:
    """drain.go:366-381: positional var_N map from wildcard slots."""
    t_tokens = template.split()
    l_tokens = log_content.split()
    out: dict[str, str] = {}
    counter = 0
    for i, tok in enumerate(t_tokens):
        if tok == WILDCARD and i < len(l_tokens):
            out[f"var_{counter}"] = l_tokens[i]
            counter += 1
    return out


# ---------------------------------------------------------------------------
# Literal port — order-sensitive, pinned by the ported reference unit tests.
# ---------------------------------------------------------------------------


@dataclass
class LogCluster:
    """drain.go:36-45."""

    id: str
    template: str
    tokens: list[str]
    size: int = 1
    first_seen: int = 0
    last_seen: int = 0
    sample_logs: list[str] = field(default_factory=list)


@dataclass
class ParseResult:
    """drain.go:48-53."""

    template_id: str
    template: str
    variables: dict[str, str]
    is_new: bool


class _Node:
    __slots__ = ("children", "clusters", "depth")

    def __init__(self, depth: int) -> None:
        self.children: dict[str, _Node] = {}
        self.clusters: list[LogCluster] = []
        self.depth = depth


class DrainTree:
    """Literal port of drain.DrainTree (drain.go:17-438), minus the mutex —
    the oracle is single-threaded by construction."""

    def __init__(self, config: DrainConfig | None = None) -> None:
        c = config or DrainConfig()
        self.max_depth = c.max_depth or 4
        self.sim_threshold = c.sim_threshold or 0.5
        self.root = _Node(0)
        self.clusters: dict[str, LogCluster] = {}

    # drain.go:134-169
    def parse(self, log_content: str, timestamp: int) -> ParseResult:
        tokens = tokenize(log_content)
        if not tokens:
            raise ValueError("empty log content")
        processed = preprocess_tokens(tokens)
        cluster = self._tree_search(self.root, processed, 1)
        is_new = False
        if cluster is None:
            cluster = self._create_cluster(processed, timestamp)
            is_new = True
        else:
            self._update_cluster(cluster, processed, timestamp)
        variables = extract_variables(cluster.template, log_content)
        return ParseResult(cluster.id, cluster.template, variables, is_new)

    # drain.go:209-240
    def _tree_search(self, node: _Node, tokens: list[str], depth: int) -> LogCluster | None:
        if depth >= self.max_depth or depth > len(tokens):
            return self._find_best_match(node.clusters, tokens)
        if depth == 1:
            child = node.children.get(f"len_{len(tokens)}")
            if child is not None:
                return self._tree_search(child, tokens, depth + 1)
            return None
        token_idx = depth - 2
        if token_idx < len(tokens):
            key = tokens[token_idx]
            child = node.children.get(key)
            if child is not None:
                return self._tree_search(child, tokens, depth + 1)
            wildcard = node.children.get(WILDCARD)
            if wildcard is not None:
                return self._tree_search(wildcard, tokens, depth + 1)
        return self._find_best_match(node.clusters, tokens)

    # drain.go:243-260
    def _find_best_match(self, clusters: list[LogCluster], tokens: list[str]) -> LogCluster | None:
        best, max_sim = None, 0.0
        for cluster in clusters:
            if len(cluster.tokens) != len(tokens):
                continue
            sim = similarity(cluster.tokens, tokens)
            if sim > max_sim and sim >= self.sim_threshold:
                max_sim = sim
                best = cluster
        return best

    # drain.go:279-298
    def _create_cluster(self, tokens: list[str], timestamp: int) -> LogCluster:
        template = " ".join(tokens)
        # Literal semantics: ID minted from creation-time tokens (drain.go:300-305).
        cid = f"tmpl_{fnv64a(template):x}"
        cluster = LogCluster(
            id=cid,
            template=template,
            tokens=list(tokens),
            size=1,
            first_seen=timestamp,
            last_seen=timestamp,
        )
        self.clusters[cid] = cluster
        self._add_to_tree(self.root, cluster, tokens, 1)
        return cluster

    # drain.go:313-342
    def _add_to_tree(self, node: _Node, cluster: LogCluster, tokens: list[str], depth: int) -> None:
        if depth >= self.max_depth or depth > len(tokens):
            node.clusters.append(cluster)
            return
        if depth == 1:
            key = f"len_{len(tokens)}"
        else:
            token_idx = depth - 2
            if token_idx < len(tokens):
                key = tokens[token_idx]
            else:
                node.clusters.append(cluster)
                return
        child = node.children.get(key)
        if child is None:
            child = _Node(depth)
            node.children[key] = child
        self._add_to_tree(child, cluster, tokens, depth + 1)

    # drain.go:345-363
    def _update_cluster(self, cluster: LogCluster, tokens: list[str], timestamp: int) -> None:
        cluster.size += 1
        cluster.last_seen = timestamp
        cluster.tokens = generalize(cluster.tokens, tokens)
        cluster.template = " ".join(cluster.tokens)

    # drain.go:404-409
    def cluster_count(self) -> int:
        return len(self.clusters)

    # drain.go:419-438
    def get_stats(self) -> dict[str, float]:
        total_logs = sum(c.size for c in self.clusters.values())
        n = len(self.clusters)
        return {
            "total_clusters": n,
            "total_logs": total_logs,
            "average_size": (total_logs / n) if n else 0.0,
        }


def zscore(value: float, mean: float, stddev: float) -> float:
    """(x-μ)/σ with the reference's σ=0→1 guard (cmd/anomaly/main.go:244-246)."""
    return (value - mean) / (stddev if stddev else 1.0)


def stddev_pop(values: list[float]) -> float:
    """Population σ (cmd/anomaly/main.go:237-242)."""
    if not values:
        return 0.0
    mean = sum(values) / len(values)
    return math.sqrt(sum((v - mean) ** 2 for v in values) / len(values))
