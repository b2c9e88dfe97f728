"""Deterministic rating waves: CDR legs in wire form, with each leg's
ground truth. A pure function of its seed: the same seed gives
byte-identical files.

(The curation run reads no generated input: it reads the declared sf0.1
`documents` fixture, committed as data/documents.parquet.)
"""
import random
from pathlib import Path


def _msisdn(account, event):
    """One of four wire spellings of the account's number for this event."""
    num = str(49100000000 + account * 100 + event % 100)
    nsn = num[2:]
    return (f"+{num}", f"00{num}", f"0{nsn}", nsn)[event % 4]


def waves(out, seed, schedule, accounts, straggle=0.07):
    """Write rating waves: `schedule` is a list of (kind, legs) pairs.

    Each call has 1-4 legs; with probability `straggle` its last leg
    arrives one wave late. Writes `wave_NNN.csv` (wire form),
    `truth_NNN.csv` (the owning account of every leg) and `manifest.txt`.
    """
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    r = random.Random(seed)
    legs = [[] for _ in schedule]
    event = 0
    for w, (_, target) in enumerate(schedule):
        while len(legs[w]) < target:
            event += 1
            account = 1 + r.randrange(accounts)
            total = 1 + r.randrange(4)
            late = r.random() < straggle and w < len(schedule) - 1
            for seq in range(1, total + 1):
                dur = float(1 + r.randrange(600))
                dest = w + 1 if late and seq == total else w
                legs[dest].append((account, event, seq, total, dur))
    lines = [f"accounts {accounts}"]
    for w, ((kind, _), rows) in enumerate(zip(schedule, legs)):
        wire = ["msisdn,event_id,seq,total,duration_sec"] + [
            f"{_msisdn(a, e)},{e},{s},{t},{d}" for a, e, s, t, d in rows]
        truth = ["account_id,event_id,seq,total,duration_sec"] + [
            f"{a},{e},{s},{t},{d}" for a, e, s, t, d in rows]
        (out / f"wave_{w:03d}.csv").write_text("\n".join(wire) + "\n")
        (out / f"truth_{w:03d}.csv").write_text("\n".join(truth) + "\n")
        lines.append(f"{w} {kind} {len(rows)} wave_{w:03d}.csv truth_{w:03d}.csv")
    (out / "manifest.txt").write_text("\n".join(lines) + "\n")
