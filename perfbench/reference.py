"""Independent single-threaded references for the output checks.

``expected_clips`` re-derives the ASR pipeline's exported clips for one
pair with plain Python and ``difflib`` from the fixture word streams,
following the reference pipeline's per-group semantics in order:
equal runs (min_run) → gap bridging → assembled-clip geometry →
validator consensus (longest validator span) → first-match confidence
→ boundary math (pads, guards, phoneme tail) → min-duration gate.

``shingle_jaccard`` is the exact 5-word-shingle Jaccard the MinHash
estimate approximates.
"""

from __future__ import annotations

import difflib


def _equal_blocks(a: list, b: list, min_len: int) -> list[tuple[int, int, int, int]]:
    sm = difflib.SequenceMatcher(None, a, b, autojunk=False)
    return [
        (i1, i2, j1, j2)
        for tag, i1, i2, j1, j2 in sm.get_opcodes()
        if tag == "equal" and i2 - i1 >= min_len
    ]


def _phoneme_tail_ms(text: str) -> int:
    t = text.lower()
    if len(t) < 3:
        return 0
    if t.endswith("ing"):
        return 60
    if t[-1] in "szxfv":
        return 50
    if t[-1] in "tdkpnmg":
        return 40
    if t[-2:] in ("ce", "se", "ze", "ge", "ch", "sh", "th", "ng"):
        return 50
    return 0


def _end_guard_ms(conf: float, base: int) -> int:
    if conf > 0.75:
        return int(base * 0.7)
    if conf < 0.6:
        return int(base * 1.3)
    return base


def expected_clips(words: list[dict], book: list[str], transcribe, p) -> list[tuple]:
    """Clips of one pair as ``(group_id, s_ms, e_ms, duration_s, words,
    pieces, avg_conf, seg_text)`` tuples, in group order.

    ``words``: the ASR word rows (``text``, ``norm``, ``start``, ``end``,
    ``confidence``) in index order; ``book``: the transcript norms;
    ``transcribe(pair_id, text)``: the validator backend; ``p``: the
    pipeline parameters."""
    if not words:
        return []
    runs = sorted(_equal_blocks(book, [w["norm"] for w in words], p.min_run), key=lambda r: r[2])
    groups: list[list[tuple]] = []
    for run in runs:
        if groups:
            last = groups[-1][-1]
            if (
                run[2] - last[3] <= p.max_gap_words
                and words[run[2]]["start"] - words[last[3] - 1]["end"] <= p.max_gap_time
            ):
                groups[-1].append(run)
                continue
        groups.append([run])

    pair_id = int(words[0]["pair_id"])
    clips = []
    for gid, group in enumerate(groups, start=1):
        used = [w for r in group for w in words[r[2]:r[3]]]
        clip_len = p.seam_silence_ms * (len(group) - 1)
        for k, r in enumerate(group):
            s = round(words[r[2]]["start"] * 1000)
            e = round(words[r[3] - 1]["end"] * 1000)
            if k == 0:
                s = max(0, s - p.start_pad_ms)
            if k == len(group) - 1:
                e += p.end_pad_ms
            clip_len += max(e, s + 1) - s

        vrows = transcribe(pair_id, " ".join(w["text"] for w in used))
        # the validator misses every 11th word, as the program's scan does
        vwords = [w for k, w in enumerate(vrows) if k % 11 != 10]
        best, best_len = None, 0
        if vwords:
            for _i1, _i2, j1, j2 in _equal_blocks([w["norm"] for w in used], [w["norm"] for w in vwords], 1):
                if j2 - j1 > best_len:
                    best, best_len = (j1, j2), j2 - j1
        if best is None or best_len < p.min_valid_words:
            continue
        j1, j2 = best
        keep = vwords[j1:j2]

        first_conf: dict[str, float] = {}
        for w in used:
            first_conf.setdefault(w["norm"], float(w["confidence"]))
        confs = [first_conf[w["norm"]] for w in keep if w["norm"] in first_conf]
        avg_conf = sum(confs) / len(confs) if confs else 1.0

        s_ms = max(0, round(keep[0]["start"] * 1000) - p.start_pad_ms)
        if j1 > 0:
            s_ms = max(s_ms, round(vwords[j1 - 1]["end"] * 1000) + p.start_guard_ms)
        e_ms = round(keep[-1]["end"] * 1000) + p.end_pad_ms + p.tail_safety_ms
        if j2 < len(vwords):
            safe = round(vwords[j2]["start"] * 1000) - _end_guard_ms(keep[-1]["confidence"], p.guard_base_ms)
            e_ms = min(e_ms, safe)
        e_ms += _phoneme_tail_ms(keep[-1]["text"])
        if e_ms <= s_ms:
            e_ms = s_ms + 1
        if e_ms - s_ms < int(p.min_dur_s * 1000):
            continue
        piece_ms = max(0, min(e_ms, clip_len) - min(s_ms, clip_len))
        clips.append(
            (gid, s_ms, e_ms, piece_ms / 1000.0, j2 - j1, len(group), avg_conf,
             " ".join(w["text"] for w in keep))
        )
    return clips


def shingle_set(text: str, k: int = 5) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def shingle_jaccard(a: str, b: str, k: int = 5) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0
