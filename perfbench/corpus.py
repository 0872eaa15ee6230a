"""Page corpora for the build workloads and their ground truth.

The pages are produced by the program's own page generator
(``sources/pages.py``), one doc id at a time, and written to parquet with
pyarrow; the program receives only the files. The ground truth is computed
here in plain Python from the generator's planted entities and triples,
without any of the program's operators: node counts per type, edge counts
per predicate and the SIMILAR_TO pair set of a one-shot ingest with a given
block-degree cap.
"""

from __future__ import annotations

import datetime
import os
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from research_knowledge_graph_spark.sources.pages import _gen_doc, _render_html

# the key types cross-linking blocks on (a posting is an edge into one)
BLOCK_TYPES = ("concept", "method", "dataset")
PAGE_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary(), nullable=False),
        pa.field("text", pa.string(), nullable=False),
        pa.field("lang", pa.string(), nullable=False),
    ]
)
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def page_table(doc_ids, vocab_scale: int) -> pa.Table:
    """The pages of ``doc_ids``, row for row what ``synthesize_pages``
    yields for the same ids."""
    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for doc_id in doc_ids:
        d = _gen_doc(int(doc_id), vocab_scale)
        cols["url"].append(d["url"])
        cols["warc_ts"].append(
            _EPOCH + datetime.timedelta(seconds=(int(doc_id) * 2711) % 31_536_000)
        )
        cols["html"].append(_render_html(d["title"], d["body"], d["domain"]).encode())
        cols["text"].append(d["body"])
        cols["lang"].append(d["lang"])
    return pa.table(cols, schema=PAGE_SCHEMA)


def write_pages(path: str, doc_ids, vocab_scale: int, n_files: int) -> None:
    """Write the pages of ``doc_ids`` as ``n_files`` parquet files under
    ``path`` (a directory)."""
    os.makedirs(path, exist_ok=True)
    ids = list(doc_ids)
    step = -(-len(ids) // n_files)
    for i in range(0, len(ids), step):
        pq.write_table(
            page_table(ids[i : i + step], vocab_scale),
            os.path.join(path, f"part-{i // step:05d}.parquet"),
        )


@dataclass
class GroundTruth:
    nodes: dict[str, int]  # node_type -> count
    edges: dict[str, int]  # edge_type -> count
    sources: dict[tuple, int]  # ("paper", url) | ("method", label) -> index
    pairs: np.ndarray  # sorted codes a * len(sources) + b, a < b

    def counts(self) -> dict[str, int]:
        """Flat view compared against the program's tables."""
        out = {f"nodes.{k}": v for k, v in self.nodes.items()}
        out.update({f"edges.{k}": v for k, v in self.edges.items()})
        return out


def ground_truth(doc_ids, vocab_scale: int, max_block_degree: int) -> GroundTruth:
    """One-shot graph of the pages ``doc_ids`` as the heuristic pipeline
    should build it.

    - one paper node per page, one entity node per distinct (type, label);
    - INTRODUCES from a paper to every distinct entity it mentions,
      USES_CONCEPT / EVALUATES_ON / EVALUATES_WITH from a paper to its
      concepts / dataset / metric, IMPROVES_ON and COMPARES_WITH between
      methods, each (from, to, type) once;
    - SIMILAR_TO between every unordered pair of distinct source nodes
      (papers, and methods through their method-to-method edges) that
      share a concept, method or dataset node whose number of distinct
      sources is at most ``max_block_degree``.
    """
    labels: dict[str, set] = defaultdict(set)
    edges: dict[str, set] = defaultdict(set)
    postings: dict[tuple, set] = defaultdict(set)
    n_papers = 0
    for doc_id in doc_ids:
        d = _gen_doc(int(doc_id), vocab_scale)
        n_papers += 1
        paper = ("paper", d["url"])
        for etype, ls in d["entities"].items():
            for lbl in ls:
                labels[etype].add(lbl)
                edges["INTRODUCES"].add((paper, (etype, lbl)))
                if etype in BLOCK_TYPES:
                    postings[(etype, lbl)].add(paper)
        for subj, pred, obj in d["triples"]:
            if pred in ("IMPROVES_ON", "COMPARES_WITH"):
                edges[pred].add((("method", subj), ("method", obj)))
                postings[("method", obj)].add(("method", subj))
            elif pred != "INTRODUCES":
                etype = {"USES_CONCEPT": "concept", "EVALUATES_ON": "dataset",
                         "EVALUATES_WITH": "metric"}[pred]
                edges[pred].add((paper, (etype, obj)))

    sources: dict[tuple, int] = {}
    for srcs in postings.values():
        for s in srcs:
            sources.setdefault(s, len(sources))
    n = len(sources)
    linked = np.zeros((n, n), dtype=bool)
    for srcs in postings.values():
        if len(srcs) <= max_block_degree:
            idx = np.fromiter((sources[s] for s in srcs), dtype=np.int64)
            linked[np.ix_(idx, idx)] = True
    a, b = np.nonzero(np.triu(linked, 1))
    pairs = a * n + b

    node_counts = {"paper": n_papers, **{t: len(ls) for t, ls in labels.items()}}
    edge_counts = {t: len(es) for t, es in edges.items()}
    edge_counts["SIMILAR_TO"] = int(pairs.size)
    return GroundTruth(node_counts, edge_counts, sources, pairs)
