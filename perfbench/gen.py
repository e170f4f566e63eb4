"""Seeded Telegram desktop-export JSON files for the benchmark.

``telegram_exports`` is a pure function of its seed: the same seed
writes byte-identical files and returns, per export, the exact
``(chat_id, message_id)`` set the loader must land from it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np

_EPOCH = dt.datetime(2023, 1, 1)
_SYLLABLES = ("ka", "lo", "mi", "ru", "te", "za", "no", "pe", "si", "vu",
              "do", "gra", "shi", "mo", "ta", "le", "qua", "bri", "xe", "fo")


def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, size=k)))
    return sorted(words)


@dataclass
class Export:
    """One export file and the message keys it carries after the
    loader's normalization (service rows and blank texts dropped)."""

    name: str
    path: str
    keys: set[tuple[int, int]] = field(default_factory=set)
    # up to 64 verbatim texts of 6 to 13 words, queries for the serve
    # workload's "a verbatim message ranks first" check
    texts: dict[tuple[int, int], str] = field(default_factory=dict)


class _ChatWriter:
    """Builds one chat's message list: bursts of same-topic messages a
    minute or two apart, separated by hour-plus gaps, so the loader's
    output has the temporal and semantic structure that
    ``compute_clusters`` groups."""

    def __init__(self, rng: np.random.Generator, vocab: list[str], chat_id: int):
        self.rng = rng
        self.vocab = vocab
        self.chat_id = chat_id
        self.authors = [(int(1000 + rng.integers(0, 9000)), f"user {i}")
                        for i in range(int(rng.integers(2, 6)))]
        self.clock = _EPOCH + dt.timedelta(hours=int(rng.integers(0, 24 * 300)))
        self.next_id = int(rng.integers(1, 1000))

    def messages(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        while len(out) < n:
            burst = min(int(rng.integers(3, 25)), n - len(out))
            topic = rng.choice(len(self.vocab), size=12, replace=False)
            self.clock += dt.timedelta(hours=1 + float(rng.exponential(6.0)))
            for _ in range(burst):
                self.clock += dt.timedelta(seconds=int(rng.integers(5, 150)))
                out.append(self._message(topic))
        return out

    def _message(self, topic: np.ndarray) -> dict:
        rng = self.rng
        mid, self.next_id = self.next_id, self.next_id + 1
        uid, uname = self.authors[int(rng.integers(0, len(self.authors)))]
        msg = {
            "id": mid,
            "type": "message",
            "date": self.clock.strftime("%Y-%m-%dT%H:%M:%S"),
            "from": uname,
            "from_id": f"user{uid}",
        }
        roll = rng.random()
        if roll < 0.03:
            msg.update(type="service", actor=uname, action="pin_message", text="")
            return msg
        if roll < 0.06:
            msg.update(photo=f"photos/photo_{mid}.jpg", text="")
            return msg
        n_words = int(rng.integers(3, 14)) if rng.random() < 0.9 else int(rng.integers(30, 80))
        on_topic = rng.random(n_words) < 0.7
        words = [self.vocab[int(topic[rng.integers(0, len(topic))])] if t
                 else self.vocab[int(rng.zipf(1.3)) % len(self.vocab)] for t in on_topic]
        text = " ".join(words)
        if roll < 0.2:  # rich-text form: array text + text_entities
            ents = [{"type": "plain", "text": text[: len(text) // 2]},
                    {"type": "bold", "text": text[len(text) // 2:]}]
            msg.update(text=ents, text_entities=ents)
        else:
            msg.update(text=text, text_entities=[{"type": "plain", "text": text}])
        return msg


def _message_text(msg: dict) -> str | None:
    if msg["type"] == "service":
        return None
    if "photo" in msg:
        return f"[photo]({msg['photo']})"
    return "".join(e["text"] for e in msg["text_entities"])


def _write_export(path: str, name: str, chats: list[tuple[int, list[dict]]]) -> Export:
    doc = {"about": "benchmark export", "chats": {"about": "", "list": [
        {"name": f"chat {cid}", "type": "personal_chat", "id": cid, "messages": msgs}
        for cid, msgs in chats
    ]}}
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, ensure_ascii=False)
    ex = Export(name, path)
    for cid, msgs in chats:
        for m in msgs:
            text = _message_text(m)
            if text is not None:
                ex.keys.add((cid, m["id"]))
                if m.get("photo") is None and len(ex.texts) < 64 and 6 <= len(text.split()) < 14:
                    ex.texts[(cid, m["id"])] = text
    return ex


def _chat_lengths(rng: np.random.Generator, total: int, median: int,
                  cap: int) -> list[int]:
    out = []
    while sum(out) < total:
        out.append(int(np.clip(rng.lognormal(np.log(median), 0.9), 3, cap)))
    out[-1] -= sum(out) - total
    if out[-1] < 3:
        out[-2] += out.pop()
    return out


def telegram_exports(
    out_dir: str,
    seed: int,
    regular: int,
    msgs_per_export: int,
    reexport: bool,
    heavy_chat: int,
    median_chat: int = 150,
    max_chat: int = 1500,
) -> list[Export]:
    """Write the export list: ``regular`` exports of about
    ``msgs_per_export`` messages in log-normally sized chats, then
    (``reexport``) one export of about the same size that repeats chats
    seen so far with new messages appended, then (``heavy_chat`` > 0) one export
    holding a single chat of that many messages."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 4000)
    exports: list[Export] = []
    writers: list[tuple[_ChatWriter, list[dict]]] = []
    next_chat = 100_000 + 1_000 * (seed % 1000)
    for e in range(regular):
        chats = []
        for n in _chat_lengths(rng, msgs_per_export, median_chat, max_chat):
            w = _ChatWriter(rng, vocab, next_chat)
            next_chat += 1
            msgs = w.messages(n)
            writers.append((w, msgs))
            chats.append((w.chat_id, msgs))
        name = f"export_{e:02d}"
        exports.append(_write_export(os.path.join(out_dir, name + ".json"), name, chats))
    if reexport and writers:
        # earlier chats in random order until the re-export holds about
        # ``msgs_per_export`` messages, each with a few new messages
        chats, size = [], 0
        for i in rng.permutation(len(writers)):
            w, old = writers[int(i)]
            chats.append((w.chat_id, old + w.messages(int(rng.integers(5, 30)))))
            size += len(chats[-1][1])
            if size >= msgs_per_export:
                break
        chats.sort()
        exports.append(_write_export(os.path.join(out_dir, "reexport.json"), "reexport", chats))
    if heavy_chat > 0:
        w = _ChatWriter(rng, vocab, next_chat)
        exports.append(_write_export(os.path.join(out_dir, "heavy.json"), "heavy",
                                     [(w.chat_id, w.messages(heavy_chat))]))
    return exports

