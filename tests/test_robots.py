"""robots.txt gating (north-rule addition; the reference has no robots
support): pure parser kernel, the corpus-derived gate table, and the
politeness dequeue honoring disallow prefixes + crawl-delay budgets."""

from pyspark.sql import functions as F

from memorious_spark.functions.robots import parse_robots, robots_table
from memorious_spark.operators.frontier import politeness_dequeue


ROBOTS = """User-agent: *
Disallow: /private/
Crawl-delay: 30

User-agent: memorious
Disallow: /secret/
"""


def test_parse_robots_sections():
    assert parse_robots(ROBOTS, "memorious") == (["/secret/"], None)
    assert parse_robots(ROBOTS, "randombot") == (["/private/"], 30.0)
    assert parse_robots("User-agent: *\nDisallow:\n", "x") == ([], None)
    assert parse_robots(None, "x") == ([], None)


def test_robots_table_and_dequeue(spark):
    corpus = spark.createDataFrame(
        [
            ("https://a.example.com/robots.txt", ROBOTS.encode()),
            ("https://b.example.com/robots.txt",
             b"User-agent: *\nDisallow: /\n"),
            ("https://a.example.com/doc/1", b"<html/>"),
        ],
        "url string, html binary",
    )
    gate = robots_table(corpus, agent="randombot", round_seconds=60.0)
    rows = {r["host"]: r for r in gate.collect()}
    assert rows["a.example.com"]["disallow_prefixes"] == ["/private/"]
    # Crawl-delay 30 over a 60s round → budget 2 per round
    assert rows["a.example.com"]["crawl_delay_budget"] == 2
    assert rows["b.example.com"]["disallow_prefixes"] == ["/"]

    frontier = spark.createDataFrame(
        [
            (f"https://a.example.com/doc/{i}", "a.example.com", 0.0, i)
            for i in range(5)
        ]
        + [
            ("https://a.example.com/private/x", "a.example.com", 0.0, 50),
            ("https://b.example.com/doc/9", "b.example.com", 0.0, 60),
        ],
        "url string, host string, priority double, emit_seq long",
    )
    selected, carry = politeness_dequeue(frontier, budget=100, robots=gate)
    sel = sorted(r["url"] for r in selected.collect())
    # disallowed paths gone entirely (not carried over), delay budget
    # caps host a at 2/round, host b fully disallowed
    assert sel == [
        "https://a.example.com/doc/0", "https://a.example.com/doc/1"
    ]
    carried = sorted(r["emit_seq"] for r in carry.collect())
    assert carried == [2, 3, 4]
