import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import ircgen  # noqa: E402

# graft.ingest.IrcParser's rules, restated: split chunks on CRLF/LF, trim,
# drop PINGs, match the PRIVMSG pattern, drop nicks of 17+ characters,
# rewrite a leading ACTION emote, key on channel|nick|remark.
MSG = re.compile(r"^:([^!]+)!~?([^@]+)@(\S+) PRIVMSG (\S+) :(.+)$")


def parsed_keys(chunks):
    keys = set()
    for _, _, _, body in chunks:
        for line in re.split(r"\r?\n", body):
            line = line.strip()
            if not line or "PING :" in line:
                continue
            m = MSG.match(line)
            if not m or len(m.group(1)) >= 17:
                continue
            keys.add(ircgen.key(m.group(4), m.group(1), m.group(5)))
    return keys


class GeneratorTest(unittest.TestCase):
    ARGS = dict(phase_a_s=4.0, backlog_lines=2000)

    def test_same_seed_same_lines_and_count(self):
        a = ircgen.generate(7, **self.ARGS)
        b = ircgen.generate(7, **self.ARGS)
        self.assertEqual(a["chunks"], b["chunks"])
        self.assertEqual(a["expected"], b["expected"])

    def test_other_seed_other_lines(self):
        a = ircgen.generate(7, **self.ARGS)
        b = ircgen.generate(8, **self.ARGS)
        self.assertNotEqual(a["chunks"], b["chunks"])

    def test_expected_keys_match_an_independent_parse(self):
        g = ircgen.generate(11, **self.ARGS)
        measured = [c for c in g["chunks"] if c[0] != "w"]
        self.assertEqual(g["expected"]["distinct_keys"], len(parsed_keys(measured)))

    def test_warm_up_uses_few_channels(self):
        g = ircgen.generate(3, **self.ARGS)
        warm = [m for c in g["chunks"] if c[0] == "w"
                for m in map(MSG.match, re.split(r"\r?\n", c[3])) if m]
        self.assertLessEqual(len({m.group(4) for m in warm}), ircgen.WARM_CHANNELS)

    def test_mix(self):
        g = ircgen.generate(3, **self.ARGS)
        text = "\r\n".join(c[3] for c in g["chunks"])
        lines = [l for l in text.split("\r\n") if l]
        self.assertTrue(any(l.startswith("PING :") for l in lines))
        self.assertTrue(any(" JOIN " in l or " PART " in l for l in lines))
        self.assertTrue(any(":ACTION " in l for l in lines))
        self.assertTrue(any(len(m.group(1)) >= 17 for m in map(MSG.match, lines) if m))
        privmsg = [l for l in lines if " PRIVMSG " in l]
        self.assertGreater(len(privmsg) - len(set(privmsg)), 0.1 * len(privmsg))
        self.assertTrue(any("\r\n" in c[3] for c in g["chunks"]))
        channels = {m.group(4) for m in map(MSG.match, lines) if m}
        self.assertGreater(len(channels), 50)

    def test_phase_a_schedule_offers_the_rate(self):
        g = ircgen.generate(5, **self.ARGS)
        a = [c for c in g["chunks"] if c[0] == "a"]
        self.assertEqual(len(a), 4 * ircgen.CHUNKS_PER_S)
        self.assertEqual([c[1] for c in a[:3]], [0.0, 50.0, 100.0])
        self.assertAlmostEqual(sum(c[2] for c in a) / (4 * ircgen.RATE_LINES_PER_S), 1.0,
                               delta=0.25)
        self.assertEqual(sum(c[2] for c in g["chunks"] if c[0] == "b"), 2000)

    def test_chunk_file_round_trip(self):
        import tempfile
        g = ircgen.generate(5, **self.ARGS)
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "chunks.tsv")
            ircgen.write_chunks(g, path)
            with open(path, encoding="utf-8") as f:
                rows = [l.rstrip("\n").split("\t", 3) for l in f]
        self.assertEqual(len(rows), len(g["chunks"]))
        body = rows[0][3].replace("\\n", "\n").replace("\\r", "\r")
        self.assertEqual(body, g["chunks"][0][3])


if __name__ == "__main__":
    unittest.main()
