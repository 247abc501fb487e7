"""The benchmark's own arithmetic: the measured loop's length, each
unit's host reference time, tail percentiles, span self times, and the
closed form of the fake mail transport's landed rows."""
import math
import statistics
import zlib

FOLDERS = ["INBOX", "SENT", "TRASH", "SPAM", "ARCHIVE"]
# The folder predicate the ingest read pushes into the source.
KEPT_FOLDERS = {"INBOX", "SENT", "TRASH"}
TAIL_BEYOND = 10


def loop_units(seconds, unit_s, traced):
    """Units of work in the measured loop: as many as take `seconds` at
    the nominal `unit_s`, at least 3, half of that in a traced run (whose
    loop is only the overhead baseline). A count, not a deadline, so a
    slower host gives the same samples, only later."""
    n = max(3, round(seconds / unit_s))
    return max(3, n // 2) if traced else n


def unit_refs(refs, half=2):
    """Host-speed reference time for each measured unit. `refs` holds the
    reference job's times, one before each unit and one after the last;
    unit u is bracketed by refs[u] and refs[u + 1]. Its reference is the
    median of those and `half` more on each side, so one noisy reference
    run does not set a unit's scale but a slow minute of the host does."""
    return [statistics.median(refs[max(0, u - half):u + 2 + half]) for u in range(len(refs) - 1)]


def tail(xs):
    """The highest percentile that still has at least TAIL_BEYOND samples
    above it: (value, percentile, sample count). With too few samples for
    any such percentile the maximum is reported at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, n
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def self_times(spans):
    """Map span id -> self time in seconds: its duration minus the part
    of its interval that its children cover (overlaps counted once)."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        lo, hi = sp["start_ns"], sp["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[sp["id"]] = (hi - lo - covered) / 1e9
    return out


def mail_row(account, d):
    """The shaped sink row of message `d` of `account`, as the provider's
    sink stores it (string per column)."""
    return [account, str(d), f"msg{d}", f"t{d % 50}", FOLDERS[d % 5],
            f"subject {d % 997}", f"user{d % 20}@example.com",
            f"dest{d % 9}@example.org",
            f"Mon, {d % 28 + 1} Jan 2024 0{d % 10}:00:00 +0000"]


def row_crc(cols):
    return zlib.crc32("\x1f".join(cols).encode("utf-8"))


def expected_landed(live_accounts, lo, hi, error_every, error_offset):
    """(rows, checksum) a fetch of messages [0, hi) lands when [0, lo) is
    already in the sink: kept folders only, poisoned gets skipped, live
    accounts only; the checksum is the order-independent sum of row CRCs."""
    n = total = 0
    for acct in live_accounts:
        for d in range(lo, hi):
            if FOLDERS[d % 5] not in KEPT_FOLDERS:
                continue
            if error_every > 0 and d % error_every == error_offset:
                continue
            n += 1
            total += row_crc(mail_row(acct, d))
    return n, total


def sink_batches(task_records, batch_size):
    """Flushes the batched sink makes: each writer task flushes every
    `batch_size` rows plus a final partial batch."""
    return sum(math.ceil(r / batch_size) for r in task_records)
