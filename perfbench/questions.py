"""Seeded RAG inputs and the deterministic stand-in LLM.

Everything here is pure Python, so the benchmark's tests run it
without a Spark session:

- ``make_gazetteer``: the NER dictionary, corpus words dealt to the
  three entity labels;
- ``split_batches``: the seeded ingest batches;
- ``make_session``: one user session's questions in the three
  few-shot templates of ``news_graph_rag_spark.llm.SQL_EXAMPLES``;
  every question after the first asks again about an entity of the
  question before it;
- ``repeat_share``: the share of a session's turns that repeat an
  entity of an earlier turn;
- ``stub_llm``: reads the linked candidates back out of the prompt and
  fills the matching few-shot SQL shape.
"""

from __future__ import annotations

import re

import numpy as np

LABELS = ("person", "organization", "location")
# stop words would match inside other words: the gazetteer matcher is
# a case-insensitive substring scan
_NOT_ENTITIES = {"a", "the"}
TERMS_PER_LABEL = 4
# skew of the entity draws: rank r is drawn with weight 1/r**ZIPF_S,
# the exponent of classic Zipf word-frequency laws
ZIPF_S = 1.0

TEMPLATES = (
    "Which articles mention {0}?",
    "How many different sources have articles mentioning {0}?",
    "What is being said about {0} and {1}?",
)
_TEMPLATE_RES = tuple(
    re.compile("^" + re.escape(t).replace(r"\{0\}", "(.+)").replace(r"\{1\}", "(.+)") + "$")
    for t in TEMPLATES
)
_CAND_RE = re.compile(r"^- (.+) \((\w+), uid=([^,]+), score=([0-9.]+)\)$")
_LABEL_TABLE = {"Person": "person", "Organization": "organization", "Location": "location"}


def make_gazetteer(seed: int, vocab: list[str]) -> dict[str, list[str]]:
    """Deal ``TERMS_PER_LABEL`` seeded corpus words to each label."""
    words = sorted(w for w in set(vocab) if w not in _NOT_ENTITIES)
    order = np.random.default_rng(seed).permutation(len(words))
    picked = [words[i] for i in order]
    return {
        label: sorted(picked[i * TERMS_PER_LABEL : (i + 1) * TERMS_PER_LABEL])
        for i, label in enumerate(LABELS)
    }


def split_batches(seed: int, n_items: int, n_batches: int) -> list[np.ndarray]:
    """Seeded partition of ``range(n_items)`` into ``n_batches`` sorted
    index arrays of near-equal size."""
    perm = np.random.default_rng(seed + 1).permutation(n_items)
    return [np.sort(part) for part in np.array_split(perm, n_batches)]


def make_session(
    seed: int, gazetteer: dict[str, list[str]], session: int, n: int
) -> list[str]:
    """The ``n`` questions of session number ``session``. Templates
    cycle in a fixed order, so every session has the same template mix.
    A session opens on a Zipf draw over a seeded ranking of the
    entities (the same ranking in every session, so popular entities
    recur across sessions); the two-name template adds a second Zipf
    draw, and the questions after it ask about that entity. So every
    question after the first names an entity of the question before
    it, whatever the seed."""
    entities = sorted(x for group in gazetteer.values() for x in group)
    ranked = [entities[i] for i in np.random.default_rng(seed + 2).permutation(len(entities))]
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    p = w / w.sum()
    rng = np.random.default_rng([seed, 3, session])
    a = ranked[rng.choice(len(ranked), p=p)]
    out = []
    for i in range(n):
        template = TEMPLATES[i % len(TEMPLATES)]
        if "{1}" not in template:
            out.append(template.format(a))
            continue
        b = a
        while b == a:
            b = ranked[rng.choice(len(ranked), p=p)]
        out.append(template.format(a, b))
        a = b
    return out


def parse_question(question: str) -> tuple[int, tuple[str, ...]]:
    """The template index of a question and the names it asks about,
    in order."""
    for i, rx in enumerate(_TEMPLATE_RES):
        m = rx.match(question)
        if m:
            return i, m.groups()
    raise ValueError(f"question in no known template: {question!r}")


def repeat_share(turn_entities: list[list[str]]) -> float:
    """Share of a session's turns that name an entity an earlier turn
    of the session named."""
    seen: set[str] = set()
    repeats = 0
    for names in turn_entities:
        repeats += bool(seen & set(names))
        seen |= set(names)
    return repeats / len(turn_entities) if turn_entities else 0.0


def _quote(name: str) -> str:
    return "'" + name.replace("'", "''") + "'"


def parse_prompt(prompt: str) -> tuple[str, list[dict]]:
    """The question and the linked candidates of a QUERY_PROMPT."""
    question = ""
    cands = []
    for line in prompt.splitlines():
        if line.startswith("Question: "):
            question = line[len("Question: ") :]
        m = _CAND_RE.match(line)
        if m:
            cands.append({"name": m.group(1), "label": m.group(2), "score": float(m.group(4))})
    return question, cands


def fill_sql(question: str, cands: list[dict]) -> str:
    """The few-shot SQL shape for ``question``, filtered on the linked
    candidates that name an entity table (or on the question's own
    words when nothing linked). Results are ordered before any LIMIT,
    so every answer is deterministic and checkable."""
    shape, names = parse_question(question)
    by_table: dict[str, list[str]] = {}
    for c in sorted(cands, key=lambda c: (-c["score"], c["name"])):
        table = _LABEL_TABLE.get(c["label"])
        if table is not None and c["name"] not in by_table.get(table, []):
            by_table.setdefault(table, []).append(c["name"])
    if not by_table:
        by_table = {"organization": list(names)}
    if shape == 0:
        table = next(iter(by_table))
        return (
            "SELECT DISTINCT a.title\nFROM article a\n"
            "JOIN contains c ON a.uid = c.src_uid\n"
            "JOIN mentions m ON c.dst_uid = m.src_uid\n"
            f"JOIN {table} p ON m.dst_uid = p.uid\n"
            f"WHERE p.name IN ({', '.join(map(_quote, by_table[table]))})\n"
            "ORDER BY a.title\nLIMIT 10"
        )
    if shape == 1:
        table = next(iter(by_table))
        return (
            "SELECT COUNT(DISTINCT s.uid) AS n_sources\nFROM source s\n"
            "JOIN published pb ON s.uid = pb.src_uid\n"
            "JOIN contains c ON pb.dst_uid = c.src_uid\n"
            "JOIN mentions m ON c.dst_uid = m.src_uid\n"
            f"JOIN {table} o ON m.dst_uid = o.uid\n"
            f"WHERE o.name IN ({', '.join(map(_quote, by_table[table]))})"
        )
    parts = [
        "SELECT ch.text FROM chunk ch\n"
        "JOIN mentions m ON ch.uid = m.src_uid\n"
        f"JOIN {table} e ON m.dst_uid = e.uid\n"
        f"WHERE e.name IN ({', '.join(map(_quote, tnames))})"
        for table, tnames in sorted(by_table.items())
    ]
    return "\nUNION\n".join(parts) + "\nORDER BY text\nLIMIT 10"


def stub_llm(prompt: str) -> str:
    """Deterministic ``complete(prompt) -> str`` client. A query prompt
    gets the few-shot SQL shape its question asks for; an answer prompt
    gets a one-line summary of the results it was shown."""
    if prompt.startswith("Answer the question"):
        results = prompt.split("Results:\n", 1)[1].split("\n\nAnswer concisely.")[0]
        return f"{len(results.splitlines())} result lines"
    return fill_sql(*parse_prompt(prompt))
