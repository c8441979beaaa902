"""The per-turn extraction decode and the deterministic stand-in model.

Plays the role of the reference's DyGIE model forward pass
(reference: dygie/models/dygie.py:163-274): given tokenized turns it
decodes typed mentions, relation triples, event triggers and arguments.
No trained weights exist in-sandbox (SURVEY.md §7 hard-part 5), so the
decode is the deterministic lexicon system. It is written ONCE, as the
three plain-Python functions below. ``StandInModel.forward`` composes
them inside the one Arrow inference pass (``inference.udf.infer``), and
every extraction head of ``operators.extract`` is a projection of that
pass, so ``cfg.model_backend`` reaches every head. The coreference walk,
``CorefWalk``, is written once here too, over decoded mentions: the one
pass steps it (coreference is its fourth projection) and so does the
stateful stream (``streaming.stateful``). The DuckDB oracle SQL in
``oracle_sql`` is the independent reference for the same rules.

Turns are ~4–20 tokens, so the decode works on plain-Python position
lists (numpy setup per tiny turn costs more than it saves) and answers
the within-turn searches with bisects over sorted positions.

A real deployment swaps `StandInModel` for a transformer-backed scorer with
the same forward() contract; nothing else in the pipeline changes.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field

from dygiepp_spark.config import PipelineConfig
from dygiepp_spark.functions.lexicons import ENTITY_TYPES, MODIFIERS, PREDICATES

_MODIFIERS = frozenset(MODIFIERS)
_PREDICATES = frozenset(PREDICATES)


def _scores(n_chars: int, width: int) -> tuple[float, float]:
    """(raw_score, softmax_score) of a span whose surface has `n_chars`
    code points: the dyadic formula of ``functions.scoring``."""
    k = (n_chars * 7 + width * 3) % 16
    return k / 16.0 + width, k / 32.0 + 0.5


def _positions(toks: list[str]) -> tuple[list[int], list[int]]:
    """Ascending positions of the entity tokens and of the predicate tokens
    (the lexicons are disjoint, asserted in ``functions.lexicons``)."""
    ents: list[int] = []
    preds: list[int] = []
    for i, tk in enumerate(toks):
        if tk in ENTITY_TYPES:
            ents.append(i)
        elif tk in _PREDICATES:
            preds.append(i)
    return ents, preds


def mentions(
    toks: list[str], with_modifiers: bool = True
) -> list[tuple[int, int, str, str, float, float]]:
    """E1 — NER decode: (start, end, label, surface, raw, softmax) in
    position order. Every entity token is a width-1 mention typed by the
    lexicon; with `with_modifiers`, a modifier immediately followed by an
    entity token is a width-2 mention with the entity's type."""
    out = []
    last = len(toks) - 1
    for i, tk in enumerate(toks):
        lab = ENTITY_TYPES.get(tk)
        if lab is not None:
            out.append((i, i, lab, tk, *_scores(len(tk), 1)))
        elif with_modifiers and i < last and tk in _MODIFIERS:
            nxt = toks[i + 1]
            lab = ENTITY_TYPES.get(nxt)
            if lab is not None:
                surf = tk + " " + nxt
                out.append((i, i + 1, lab, surf, *_scores(len(surf), 2)))
    return out


def triples(
    toks: list[str], max_pair_distance: int
) -> list[tuple[int, str, int, str, str, float, float]]:
    """E2 — relation decode: (subj, subj_surface, obj, obj_surface, PRED,
    raw, softmax) for each ordered pair of entity tokens with
    1 ≤ obj − subj ≤ `max_pair_distance` and a predicate strictly between
    them; the predicate is the earliest such token.

    The first predicate after the subject is THE earliest in-between
    predicate for every object of that subject, so each subject costs two
    bisects and no pair needs an array filter."""
    ents, preds = _positions(toks)
    out = []
    if not ents or not preds:
        return out
    for si, s in enumerate(ents):
        hi = bisect_right(ents, s + max_pair_distance, si + 1)
        if hi == si + 1:
            continue
        pi = bisect_right(preds, s)
        if pi == len(preds):
            break  # positions ascend: no later subject has one either
        p = preds[pi]
        subj = toks[s]
        pred = toks[p].upper()
        for o in ents[si + 1 : hi]:
            if p < o:
                obj = toks[o]
                width = o - s + 1
                out.append((s, subj, o, obj, pred, *_scores(len(subj) + 1 + len(obj), width)))
    return out


def events(
    toks: list[str], max_arg_distance: int
) -> tuple[list[tuple[int, str, float, float]], list[tuple[int, str, int, str, str]]]:
    """E5/E6 — event decode: triggers (pos, TYPE, raw, softmax), one per
    predicate token, and arguments (trigger, TYPE, pos, surface, role), the
    entity tokens within `max_arg_distance` of a trigger, role ARG_BEFORE /
    ARG_AFTER by side."""
    ents, trigs = _positions(toks)
    triggers, arguments = [], []
    for t in trigs:
        tok = toks[t]
        etype = tok.upper()
        triggers.append((t, etype, *_scores(len(tok), 1)))
        lo = bisect_left(ents, t - max_arg_distance)
        for a in ents[lo : bisect_right(ents, t + max_arg_distance, lo)]:
            arguments.append((t, etype, a, toks[a], "ARG_BEFORE" if a < t else "ARG_AFTER"))
    return triggers, arguments


class CorefWalk:
    """E3 — the stand-in antecedent decode, one conversation at a time: a
    width-1 mention's antecedent is the nearest previous mention with the
    same surface, over mentions already decoded (no tokenizing here). State
    is the running token offset and the last doc position of each surface,
    so a caller can carry it across batches (the model pass) or
    micro-batches (the stateful stream)."""

    def __init__(self, last: dict[str, int] | None = None, offset: int = 0) -> None:
        self.last = {} if last is None else last
        self.offset = offset

    def step(self, n_tokens: int, spans: list[tuple[int, str]]) -> list[tuple]:
        """The next turn, given as its token count and its width-1
        mentions' (start, surface) in position order: (start, surface,
        doc_pos, ant_doc_pos or None) per mention. A turn that decoded to
        nothing still advances the offset (a NULL text is 0 tokens)."""
        out = []
        for s, surf in spans:
            dp = self.offset + s
            out.append((s, surf, dp, self.last.get(surf)))
            self.last[surf] = dp
        self.offset += n_tokens
        return out


@dataclass
class TurnPredictions:
    """Decoded predictions for one turn (turn-relative inclusive offsets)."""

    mentions: list[tuple[int, int, str, str, float, float]] = field(default_factory=list)
    triples: list[tuple[int, str, int, str, str, float, float]] = field(default_factory=list)
    triggers: list[tuple[int, str, float, float]] = field(default_factory=list)
    arguments: list[tuple[int, str, int, str, str]] = field(default_factory=list)


class StandInModel:
    """Deterministic extraction model with the reference decode semantics:
    one forward() per micro-batch of tokenized turns, composed of the
    per-turn decode functions above."""

    def __init__(self, cfg: PipelineConfig | None = None) -> None:
        self.cfg = cfg or PipelineConfig()

    def forward(self, token_batch: list[list[str]]) -> list[TurnPredictions]:
        """One micro-batch of turns → per-turn decoded predictions."""
        maxd, maxa = self.cfg.max_pair_distance, self.cfg.max_arg_distance
        return [
            TurnPredictions(mentions(toks), triples(toks, maxd), *events(toks, maxa))
            for toks in token_batch
        ]


_MODELS: dict[PipelineConfig, StandInModel] = {}


def get_model(cfg: PipelineConfig | None = None) -> StandInModel:
    """Per-executor, per-config singleton (one model load per Python worker,
    the A5 pattern: ship weights with --py-files/--archives, load lazily).

    Keyed on the (frozen, hashable) PipelineConfig: two jobs sharing one
    Python worker with different configs (e.g. different
    ``max_pair_distance``) each get their own model — a single global would
    silently serve the first caller's config to the second job.

    ``cfg.model_backend`` picks the scorer ("standin" | "torch"); both
    implement the same forward() contract, so the rest of the pipeline is
    backend-blind."""
    key = cfg or PipelineConfig()
    model = _MODELS.get(key)
    if model is None:
        if key.model_backend == "torch":
            from dygiepp_spark.inference.encoder import TorchSpanScorer

            model = TorchSpanScorer(key)
        elif key.model_backend == "standin":
            model = StandInModel(key)
        else:
            raise ValueError(f"unknown model_backend: {key.model_backend!r}")
        _MODELS[key] = model
    return model
