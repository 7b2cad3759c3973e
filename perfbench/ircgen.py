"""Seeded IRC wire generator for the `ingest` workload.

The same seed gives the same chunks, the same schedule and the same expected
distinct-key count. The mix: Zipf-skewed channels and nicks, cross-bot
duplicate lines (the same PRIVMSG seen by a second bot a moment later), PING
and other non-PRIVMSG traffic, ACTION emotes, nicks too long for the parser
to accept, and multi-line CRLF chunks.
"""
import itertools
import random

WORDS = ("the a spark stream log bot channel nick hello world ping pong merge "
         "query join window batch lag commit offset sink parquet id key dedup "
         "again later today yes no maybe fix bug test build ship review").split()


def _zipf_cum_weights(n, s):
    return list(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


def _nick(rng, long_nick):
    n = rng.randint(17, 24) if long_nick else rng.randint(3, 12)
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz_0123456789") for _ in range(n))


def _remark(rng):
    words = [rng.choice(WORDS) for _ in range(rng.randint(2, 12))]
    if rng.random() < 0.08:
        return "ACTION " + " ".join(words)
    return " ".join(words)


def key(channel, nick, remark):
    """The pre-image of the sink id: the parser rewrites a leading ACTION
    emote (every "ACTION " occurrence) to "/me " and keys on
    channel|nick|remark."""
    if remark.startswith("ACTION "):
        remark = remark.replace("ACTION ", "/me ")
    return f"{channel}|{nick}|{remark}"


# The generator mix, the same for every run; the seed varies the lines.
CHANNELS = 155            # Zipf channel skew, s = 1.1
NICKS = 2000              # Zipf nick skew, s = 1.0
LONG_NICK_SHARE = 0.02    # nicks of 17 to 24 characters, which the parser drops
DUP_SHARE = 0.25          # PRIVMSG lines that repeat a recent line (a second bot)
RATE_LINES_PER_S = 100    # phase a's offered rate
CHUNKS_PER_S = 20         # phase a's chunk schedule
WARM_LINES = 200
WARM_CHANNELS = 8         # the warm-up writes only the busiest channels


def generate(seed, phase_a_s, backlog_lines):
    """Chunks for the warm-up (w), the open-loop phase (a, with due times)
    and the backlog (b), plus the expected distinct keys of phases a and b.

    Phase a has CHUNKS_PER_S * phase_a_s chunks, due one every
    1/CHUNKS_PER_S seconds, of random sizes averaging
    RATE_LINES_PER_S / CHUNKS_PER_S lines. The warm-up uses only the
    WARM_CHANNELS busiest channels: it runs the same code paths while
    writing fewer sink partitions.
    """
    rng = random.Random(seed)
    chans = [f"#chan{i:03d}" for i in range(CHANNELS)]
    chan_w = _zipf_cum_weights(CHANNELS, 1.1)
    all_chans, all_chan_w = chans, chan_w
    pool = [_nick(rng, rng.random() < LONG_NICK_SHARE) for _ in range(NICKS)]
    nick_w = _zipf_cum_weights(NICKS, 1.0)
    recent = []

    def line():
        """One wire line and its sink key (None when the parser drops it)."""
        r = rng.random()
        if r < 0.03:
            return f"PING :irc{rng.randint(1, 9)}.example.net", None
        if r < 0.08:
            nick = rng.choices(pool, cum_weights=nick_w)[0]
            kind = rng.choice(["JOIN", "PART", "NOTICE", "MODE"])
            return f":{nick}!~{nick[:8]}@host{rng.randint(1, 99)}.example {kind} " \
                   f"{rng.choices(chans, cum_weights=chan_w)[0]}", None
        if recent and rng.random() < DUP_SHARE:
            return rng.choice(recent)
        nick = rng.choices(pool, cum_weights=nick_w)[0]
        chan = rng.choices(chans, cum_weights=chan_w)[0]
        remark = _remark(rng)
        tilde = "~" if rng.random() < 0.7 else ""
        text = f":{nick}!{tilde}{nick[:8]}@host{rng.randint(1, 99)}.example PRIVMSG {chan} :{remark}"
        out = (text, key(chan, nick, remark) if len(nick) < 17 else None)
        recent.append(out)
        if len(recent) > 200:
            recent.pop(0)
        return out

    def chunk(n):
        ls = [line() for _ in range(n)]
        body = "\r\n".join(t for t, _ in ls)
        if rng.random() < 0.5:
            body += "\r\n"
        return body, [k for _, k in ls if k is not None]

    chunks, keys = [], set()
    per = RATE_LINES_PER_S / CHUNKS_PER_S

    def size():
        return 1 + int(rng.expovariate(1.0 / max(per - 1, 0.5)))

    def emit(phase, n, due_ms):
        body, ks = chunk(n)
        chunks.append((phase, due_ms, n, body))
        if phase != "w":
            keys.update(ks)

    def emit_lines(phase, total):
        while total > 0:
            n = min(total, size())
            emit(phase, n, 0.0)
            total -= n

    chans, chan_w = all_chans[:WARM_CHANNELS], all_chan_w[:WARM_CHANNELS]
    emit_lines("w", WARM_LINES)
    chans, chan_w = all_chans, all_chan_w
    recent.clear()
    for i in range(round(CHUNKS_PER_S * phase_a_s)):
        emit("a", size(), i * 1000.0 / CHUNKS_PER_S)
    emit_lines("b", backlog_lines)
    wire_bytes = sum(len(c[3].encode()) for c in chunks if c[0] != "w")
    return {"chunks": chunks,
            "expected": {"distinct_keys": len(keys), "wire_bytes": wire_bytes,
                         "lines": {p: sum(c[2] for c in chunks if c[0] == p)
                                   for p in "wab"}}}


def write_chunks(gen, path):
    """One chunk per line: phase, due ms, line count, text with CR/LF escaped."""
    with open(path, "w", encoding="utf-8") as f:
        for phase, due, n, body in gen["chunks"]:
            text = body.replace("\r", "\\r").replace("\n", "\\n")
            f.write(f"{phase}\t{due}\t{n}\t{text}\n")
