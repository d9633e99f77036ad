"""Independent oracle: expected results computed from the generated input
files with DuckDB SQL and plain Python / networkx. Imports nothing from the
program under test, so a bug shared by the program and its own helpers
cannot hide here.

The semantics reproduced are the reference scripts' (directed one-hop
expand, induced subgraph, presentation columns), as documented in the
program's plans/clouds.py and cypher/writes.py docstrings.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import networkx as nx

SOURCE_HEX = {
    "NCBI": "#8acb4a",
    "Tara": "#39dede",
    "GTDB_predicted_prophages": "#f1e653",
    "GPD_Isolate": "#9b4aed",
    "GPD_Metagenome": "#c734df",
}
TAB20_HEX = [
    "#1f77b4", "#aec7e8", "#ff7f0e", "#ffbb78", "#2ca02c",
    "#98df8a", "#d62728", "#ff9896", "#9467bd", "#c5b0d5",
    "#8c564b", "#c49c94", "#e377c2", "#f7b6d2", "#7f7f7f",
    "#c7c7c7", "#bcbd22", "#dbdb8d", "#17becf", "#9edae5",
]


def _taxon_color(source, flag) -> str:
    if source == "NCBI" and flag is True:
        return "green"
    if source == "NCBI" and flag is False:
        return "red"
    return {"Tara": "cyan", "GPD_Isolate": "pink", "GPD_Metagenome": "purple"}.get(source, "yellow")


def _vis_node(acc, genome_size, background, title) -> dict:
    n = {
        "color": {"background": background, "border": "#000000"},
        "id": acc,
        "label": acc,
        "shape": "dot",
        "size": math.floor(genome_size / 3000),
    }
    if title is not None:
        n["title"] = title
    return n


def _vis_edges(rows, t: float) -> list[dict]:
    return [
        {"color": "lightgray", "from": s, "to": d, "value": t - dist + 0.1, "weight": dist}
        for s, d, dist in rows
    ]


def canonical_cloud(nodes: list[dict], edges: list[dict]) -> tuple:
    """Order-free form of a rendered cloud, for comparison."""
    return (
        sorted(nodes, key=lambda n: n["id"]),
        sorted(edges, key=lambda e: (e["from"], e["to"])),
    )


class Oracle:
    """Expected results over the generated tables of one data set."""

    def __init__(self, paths: dict[str, str]):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE nodes AS SELECT * FROM read_parquet('{paths['phage_nodes']}')")
        self.con.execute(f"CREATE TABLE edges AS SELECT * FROM read_parquet('{paths['shares_dna']}')")
        self.con.execute(f"CREATE TABLE infects AS SELECT * FROM read_parquet('{paths['infects']}')")
        self.con.execute(
            f"CREATE TABLE lineages AS SELECT * FROM read_csv('{paths['lineages']}', header=true, "
            "all_varchar=true)"
        )

    def close(self) -> None:
        self.con.close()

    def q(self, sql: str, params: list | None = None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    # -- clouds -------------------------------------------------------------

    def _induced(self, node_set_sql: str, params: list, t: float) -> list[tuple]:
        return self.q(
            f"WITH ns AS ({node_set_sql}) SELECT src, dst, distance FROM edges "
            "WHERE distance <= ? AND src IN (SELECT id FROM ns) AND dst IN (SELECT id FROM ns)",
            params + [t],
        )

    def cloud_taxon(self, taxon: str, t: float) -> tuple:
        ns = (
            "SELECT src AS id FROM edges WHERE distance <= ? AND src IN (SELECT accession FROM nodes "
            "WHERE source = 'NCBI' AND contains(taxonomy, ?)) UNION SELECT dst FROM edges "
            "WHERE distance <= ? AND src IN (SELECT accession FROM nodes WHERE source = 'NCBI' "
            "AND contains(taxonomy, ?))"
        )
        p = [t, taxon, t, taxon]
        rows = self.q(
            f"WITH ns AS ({ns}) SELECT accession, source, genome_size, contains(taxonomy, ?) "
            "FROM nodes WHERE accession IN (SELECT id FROM ns)",
            p + [taxon],
        )
        nodes = [_vis_node(a, gs, _taxon_color(src, flag), None) for a, src, gs, flag in rows]
        return canonical_cloud(nodes, _vis_edges(self._induced(ns, p, t), t))

    def cloud_family(self, family: str, rank: str, t: float) -> tuple:
        seeds = "SELECT accession FROM nodes WHERE source = 'NCBI' AND contains(taxonomy, ?)"
        ns = (
            f"SELECT accession AS id FROM ({seeds}) UNION SELECT dst FROM edges "
            f"WHERE distance <= ? AND src IN ({seeds})"
        )
        p = [family, t, family]
        taxa = sorted(
            r[0]
            for r in self.q(
                f'SELECT DISTINCT "{rank}" FROM lineages WHERE family = ? AND "{rank}" IS NOT NULL '
                f'AND "{rank}" <> \'\'',
                [family],
            )
        )
        if not self.q("SELECT 1 FROM lineages WHERE family = ? LIMIT 1", [family]):
            raise KeyError(f"family {family!r} not in lineages")
        rows = self.q(
            f'WITH ns AS ({ns}) SELECT n.accession, n.source, n.genome_size, n.taxonomy, l."{rank}" '
            "FROM nodes n LEFT JOIN lineages l ON l.accession = n.accession "
            "WHERE n.accession IN (SELECT id FROM ns)",
            p,
        )
        nodes = []
        for acc, src, gs, lineage, target in rows:
            if src != "NCBI":
                color = "#FFFFFF"
            else:
                hit = next((i for i, tx in enumerate(taxa) if lineage is not None and tx in lineage), None)
                color = "#000000" if hit is None else TAB20_HEX[hit % len(TAB20_HEX)]
            target = target or None
            title = f"Source: {src}<br>Genome size: {gs:_}<br>{rank}: {target}"
            nodes.append(_vis_node(acc, gs, color, title))
        return canonical_cloud(nodes, _vis_edges(self._induced(ns, p, t), t))

    def cloud_host(self, host: str, t: float, harsh: bool) -> tuple:
        hosted = "SELECT src FROM infects WHERE host_genus = ?"
        if harsh:
            hosted = (
                f"SELECT accession FROM nodes WHERE accession IN ({hosted}) "
                "AND source <> 'GTDB_predicted_prophages'"
            )
        ns = (
            f"SELECT src AS id FROM edges WHERE distance <= ? AND src IN ({hosted}) "
            f"UNION SELECT dst FROM edges WHERE distance <= ? AND src IN ({hosted})"
        )
        p = [t, host, t, host]
        rows = self.q(
            f"WITH ns AS ({ns}) SELECT n.accession, n.source, n.genome_size, n.genus, "
            "(SELECT max(host_genus) FROM infects i WHERE i.src = n.accession) "
            "FROM nodes n WHERE n.accession IN (SELECT id FROM ns)",
            p,
        )
        nodes = [
            _vis_node(
                acc, gs, SOURCE_HEX.get(src),
                f"Target host genus: {h}<br>Phage genus: {genus}<br>Genome size: {gs:_} bp",
            )
            for acc, src, gs, genus, h in rows
        ]
        return canonical_cloud(nodes, _vis_edges(self._induced(ns, p, t), t))

    # -- the reference taxon script's three Cypher queries -----------------

    def cypher_taxon(self, taxon: str, t: float) -> tuple:
        q1 = sorted(
            self.q(
                "SELECT e.src, e.dst FROM edges e JOIN nodes a ON a.accession = e.src "
                "JOIN nodes b ON b.accession = e.dst WHERE a.source = 'NCBI' "
                "AND contains(a.taxonomy, ?) AND e.distance <= ?",
                [taxon, t],
            )
        )
        ns = sorted({x for pair in q1 for x in pair})
        q2 = sorted(
            self.q(
                "SELECT src, dst, distance FROM edges WHERE distance <= ? "
                "AND list_contains(?, src) AND list_contains(?, dst)",
                [t, ns, ns],
            )
        )
        q3 = sorted(
            self.q(
                "SELECT accession, source, genome_size, contains(taxonomy, ?) FROM nodes "
                "WHERE list_contains(?, accession)",
                [taxon, ns],
            )
        )
        return q1, q2, q3

    # -- replayed Cypher write sessions ---------------------------------------

    def write_session(self, s: dict) -> list[list[tuple]]:
        """Replay one write session on private copies of the tables; return
        the expected result of the read after each write."""
        c = self.con.cursor()
        try:
            c.execute("CREATE TEMP TABLE wn AS SELECT * FROM nodes")
            c.execute("CREATE TEMP TABLE we AS SELECT * FROM edges")
            reads = []

            def read(sql, params):
                reads.append(sorted(c.execute(sql, params).fetchall()))

            new, other, genus, victim = s["new"], s["other"], s["genus"], s["victim"]
            # MERGE ... ON CREATE SET (the key is new, so the create branch fires)
            if not c.execute("SELECT 1 FROM wn WHERE accession = ?", [new]).fetchall():
                c.execute(
                    "INSERT INTO wn (accession, source, genome_size) VALUES (?, 'NCBI', ?)",
                    [new, s["size"]],
                )
            read("SELECT accession, source, genome_size FROM wn WHERE accession = ?", [new])
            # MATCH (a), (b) CREATE (a)-[:sharesDNA]->(b)
            c.execute(
                "INSERT INTO we SELECT a.accession, b.accession, ? FROM wn a, wn b "
                "WHERE a.accession = ? AND b.accession = ?",
                [s["distance"], new, other],
            )
            read(
                "SELECT e.dst, e.distance FROM we e JOIN wn b ON b.accession = e.dst WHERE e.src = ?",
                [new],
            )
            # MATCH ... WHERE CONTAINS SET genome_size = genome_size + d
            c.execute(
                "UPDATE wn SET genome_size = genome_size + ? WHERE contains(taxonomy, ?)",
                [s["bump"], genus],
            )
            read("SELECT accession, genome_size FROM wn WHERE contains(taxonomy, ?)", [genus])
            # DETACH DELETE
            c.execute("DELETE FROM we WHERE src = ? OR dst = ?", [victim, victim])
            c.execute("DELETE FROM wn WHERE accession = ?", [victim])
            read(
                "SELECT a.accession, b.accession, e.distance FROM we e "
                "JOIN wn a ON a.accession = e.src JOIN wn b ON b.accession = e.dst "
                "WHERE contains(a.taxonomy, ?)",
                [genus],
            )
            return reads
        finally:
            c.close()

    # -- whole-graph jobs -------------------------------------------------------

    def graph_edges(self, t: float) -> list[tuple[str, str]]:
        return self.q("SELECT src, dst FROM edges WHERE distance <= ?", [t])

    def all_accessions(self) -> list[str]:
        return [r[0] for r in self.q("SELECT accession FROM nodes")]


def graph_jobs(edges: list[tuple[str, str]], vertices: list[str], pr_iters: int,
               core_rounds: int, lpa_iters: int) -> dict[str, dict]:
    """Expected output of each whole-graph job, as {job: {id: value}}."""
    und = nx.Graph()
    und.add_edges_from((a, b) for a, b in edges if a != b)
    directed = nx.DiGraph()
    directed.add_edges_from(edges)

    wcc = {v: min(c) for c in nx.connected_components(nx.Graph(directed)) for v in c}
    scc = {v: min(c) for c in nx.strongly_connected_components(directed) for v in c}

    # integer PageRank: scores in 1e6 units, damping 85/100, integer division
    scale, base = 1_000_000, (1_000_000 * 15) // 100
    out_deg = Counter(s for s, _ in edges)
    pr = {v: scale for v in directed.nodes}
    for _ in range(pr_iters):
        s = defaultdict(int)
        for a, b in edges:
            s[b] += pr[a] // out_deg[a]
        pr = {v: base + (85 * s[v]) // 100 for v in pr}

    # fixed-round h-index iteration from the degree sequence
    h = {v: und.degree(v) for v in und.nodes}
    for _ in range(core_rounds):
        nh = {}
        for v in und.nodes:
            vals = sorted((h[u] for u in und.neighbors(v)), reverse=True)
            k = 0
            while k < len(vals) and vals[k] >= k + 1:
                k += 1
            nh[v] = k
        h = nh

    tri = {v: n for v, n in nx.triangles(und).items() if n}

    # synchronous label propagation, ties to the smallest label
    labels = {v: v for v in vertices}
    nbrs = defaultdict(list)
    for a, b in edges:
        nbrs[a].append(b)
        nbrs[b].append(a)
    for _ in range(lpa_iters):
        new = {}
        for v, lab in labels.items():
            if nbrs[v]:
                cnt = Counter(labels[u] for u in nbrs[v])
                new[v] = min(cnt, key=lambda x: (-cnt[x], x))
            else:
                new[v] = lab
        labels = new
    return {"wcc": wcc, "pagerank": pr, "scc": scc, "coredec": h, "triangles": tri, "lpa": labels}
