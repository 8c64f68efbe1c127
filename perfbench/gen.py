"""Seeded live-event generator that keeps its own ground truth.

The same seed always yields the same events; the engine only ever sees
the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass

TEAMS = ("Arsenal", "Barcelona", "Bayern", "Celtic", "Juventus", "Porto", "Ajax", "Lyon")
COMPETITIONS = ("League", "Cup", "Friendly")
DVR_WINDOW = 10  # the engine's DVR window (schemas.DVR_WINDOW_SIZE)
GAP_RATE = 0.01  # share of events after which a sequence gap of 1-3 opens
CORRUPT_RATE = 0.02  # share of events with a wrong checksum


def _checksum(stream_id: str, chunk_index: int, size_bytes: int) -> str:
    return hashlib.md5(f"{stream_id}-{chunk_index}-{size_bytes}".encode()).hexdigest()


@dataclass
class StreamTruth:
    next_chunk: int = 0
    seq_offset: int = 0
    gap_events: int = 0
    missing_total: int = 0


class LiveEvents:
    """Kafka-shaped live-chunk values for a fixed set of streams.

    Each event is one JSON object (the Kafka record value).  Sequence
    numbers equal chunk indexes except for injected gaps of 1-3 (after
    about GAP_RATE of events); about CORRUPT_RATE of events carry a wrong
    checksum.  Stream keys are drawn uniformly.
    """

    def __init__(self, seed: int, n_streams: int):
        # the streams are the same for every seed, so the keys' spread over
        # shuffle partitions does not change with it; the seed drives the events
        names = random.Random(n_streams)
        self.streams = [f"live-{names.getrandbits(40):010x}" for _ in range(n_streams)]
        self.meta = {
            s: (names.choice(TEAMS), names.choice(TEAMS), names.choice(COMPETITIONS))
            for s in self.streams
        }
        self.rng = random.Random(seed)
        self.truth = {s: StreamTruth() for s in self.streams}
        self.corrupt_keys: set[tuple[str, int]] = set()

    def next_events(self, n: int) -> list[tuple[str, dict]]:
        """``n`` new events as (stream_id, value-without-timestamp)."""
        rng = self.rng
        picks = rng.choices(self.streams, k=n)
        out = []
        for sid in picks:
            t = self.truth[sid]
            c = t.next_chunk
            t.next_chunk += 1
            if c > 0 and rng.random() < GAP_RATE:
                g = rng.randint(1, 3)
                t.seq_offset += g
                t.gap_events += 1
                t.missing_total += g
            size = rng.randint(500_000, 2_000_000)
            dur = rng.randint(2000, 4000)
            checksum = _checksum(sid, c, size)
            if rng.random() < CORRUPT_RATE:
                checksum = checksum[::-1]
                self.corrupt_keys.add((sid, c))
            home, away, comp = self.meta[sid]
            out.append(
                (
                    sid,
                    {
                        "stream_id": sid,
                        "chunk_index": c,
                        "sequence_number": c + t.seq_offset,
                        "size_bytes": size,
                        "stream_type": "live",
                        "status": "received",
                        "checksum": checksum,
                        "duration_ms": dur,
                        "keyframe_aligned": True,
                        "audio_track_id": f"audio-{sid}",
                        "video_track_id": f"video-{sid}",
                        "match_home": home,
                        "match_away": away,
                        "competition": comp,
                    },
                )
            )
        return out

    # ---------------------------------------------------------- truth

    def offered_keys(self) -> int:
        return sum(t.next_chunk for t in self.truth.values())

    def expected_gaps(self) -> dict[str, tuple[int, int, int]]:
        """stream -> (last_seq, gap_events, missing_total) for every
        stream that emitted at least one event."""
        return {
            s: (t.next_chunk - 1 + t.seq_offset, t.gap_events, t.missing_total)
            for s, t in self.truth.items()
            if t.next_chunk
        }

    def expected_dvr(self) -> dict[str, tuple[int, list[int]]]:
        """stream -> (media_sequence, newest DVR_WINDOW chunk indexes)."""
        out = {}
        for s, t in self.truth.items():
            if t.next_chunk:
                last = t.next_chunk - 1
                out[s] = (max(0, last - DVR_WINDOW + 1), list(range(max(0, last - DVR_WINDOW + 1), last + 1)))
        return out


def value_line(value: dict, timestamp: str) -> str:
    return json.dumps({**value, "timestamp": timestamp}, separators=(",", ":"))


def write_lines_atomic(lines: list[str], staging_dir: str, out_dir: str, name: str) -> None:
    """Write one JSON-lines file and move it into the watched directory
    in one rename, so the file source never lists a partial file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, os.path.join(out_dir, name))

