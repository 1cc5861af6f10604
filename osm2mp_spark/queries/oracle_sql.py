"""DuckDB SQL shared by the oracles: the popcount of XORed signature words,
the all-pairs Hamming join, and the recursive-CTE min-label connected
components. These are the independent plans the banded Hamming join
(operators.hamming) and min_label_components (operators.chains) are
gated against, so each is written once, here."""

from __future__ import annotations


def popcount(a: str, b: str, words) -> str:
    """Hamming distance between rows `a` and `b` over the int64 signature
    `words`, as an INT. DuckDB's bit_count returns TINYINT, so each word's
    term is cast before the sum (a 4-word sum overflows TINYINT)."""
    return " + ".join(
        f"CAST(bit_count(xor({a}.{w}, {b}.{w})) AS INT)" for w in words
    )


def hamming_pairs(rel: str, id_col: str, words, max_hamming: int,
                  out: tuple[str, str] = ("id_a", "id_b")) -> str:
    """All-pairs Hamming self-join of `rel`: (out_a, out_b, hamming) for
    every id pair a < b within `max_hamming`. No banding: a match proves
    the Spark banding lossless for the threshold."""
    ham = popcount("a", "b", words)
    return f"""SELECT a.{id_col} AS {out[0]}, b.{id_col} AS {out[1]}, {ham} AS hamming
FROM {rel} a JOIN {rel} b ON a.{id_col} < b.{id_col}
WHERE {ham} <= {max_hamming}"""


def min_label(edges: str, a: str, b: str,
              seed: str = "SELECT DISTINCT a FROM und") -> str:
    """CTEs `und`, `comp` and `lbl(v, lab)`: each vertex of `seed` (a
    one-column `a` query; default every vertex on an edge) with the
    smallest vertex its component reaches over the undirected edges
    (a, b) of `edges`. A recursive closure, so the enclosing query opens
    WITH RECURSIVE."""
    return f"""und AS (SELECT {a} AS a, {b} AS b FROM {edges}
        UNION ALL SELECT {b} AS a, {a} AS b FROM {edges}),
comp(v, lab) AS (
  SELECT a, a FROM ({seed})
  UNION
  SELECT u.b, c.lab FROM comp c JOIN und u ON u.a = c.v),
lbl AS (SELECT v, MIN(lab) AS lab FROM comp GROUP BY v)"""


def clusters(vertices: str, v: str, edges: str, a: str, b: str) -> str:
    """min_label's CTEs, then `clusters(v, cluster_id, cluster_size,
    keep)`: every vertex `v` of `vertices` with its component's min label,
    the component's size, and whether it is the component's keeper (its
    min vertex) — operators.chains.component_sizes' decision. A vertex on
    no edge is a singleton that keeps itself."""
    return f"""{min_label(edges, a, b)},
allv AS (SELECT s.{v} AS v, COALESCE(l.lab, s.{v}) AS cluster_id
         FROM {vertices} s LEFT JOIN lbl l ON s.{v} = l.v),
sizes AS (SELECT cluster_id, COUNT(*) AS n FROM allv GROUP BY cluster_id),
clusters AS (
  SELECT a.v, a.cluster_id, CAST(s.n AS BIGINT) AS cluster_size,
         (a.v = a.cluster_id) AS keep
  FROM allv a JOIN sizes s ON s.cluster_id = a.cluster_id)"""
