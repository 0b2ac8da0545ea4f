package graft.queries

import org.apache.spark.sql.functions._
import graft.config.{ClassicConfig, YamlConfig}
import graft.model.Tables

/** Config-frontend gates: whole pipelines declared as CONFIG TEXT (the
  * reference's YAML format `src/config_format/flb_cf_yaml.c` and the
  * classic ini format `src/flb_cf_fluentbit.c`), assembled by the shared
  * section IR into routed/filtered/formatted frames, oracle-checked
  * end-to-end. These close VERDICT r13 gap #1: a fluent-bit user's
  * ACTUAL config file — either syntax — drives this engine.
  *
  * Scale shape: the frontend only DECLARES the plan. Each Match-gated
  * filter is one per-row operator over the whole flow (grep → one rlike
  * `Filter`, modify/parser → one `Project` of `when(match, new)
  * .otherwise(old)` columns, rewrite_tag → per-hop projections and one
  * `explode`), so every output's plan reads each input once; multiline
  * is one window + one aggregation. Everything Catalyst sees is the same
  * codegen'd operators the hand-built gates pin, so config-driven
  * pipelines inherit their scale behavior unchanged.
  */
object ConfigQueries {

  /** The shared yaml/classic test pipeline over `events`: grep keeps
    * click/view records, modify renames user_id→uid and stamps the
    * pipeline source, the output formats JSON lines.
    */
  private[queries] val yamlPipeline =
    """pipeline:
      |  inputs:
      |    - name: events
      |      tag: app.events
      |  filters:
      |    - name: grep
      |      match: 'app.*'
      |      regex: event_type ^(click|view)$
      |    - name: modify
      |      match: '*'
      |      rename: user_id uid
      |      add: source yaml_or_classic
      |  outputs:
      |    - name: file
      |      match: 'app.*'
      |      format: json
      |""".stripMargin

  private val classicPipeline =
    """[INPUT]
      |    name events
      |    tag app.events
      |[FILTER]
      |    name grep
      |    match app.*
      |    regex event_type ^(click|view)$
      |[FILTER]
      |    name modify
      |    match *
      |    rename user_id uid
      |    add source yaml_or_classic
      |[OUTPUT]
      |    name file
      |    match app.*
      |    format json
      |""".stripMargin

  /** Both frontends run the SAME oracle — byte-identical output is the
    * equivalence claim (one assembly, two syntaxes) — and so does the
    * STREAMING replay twin (`f_yaml_stream` in StreamQueries): one
    * config text, three execution paths, one oracle.
    */
  private[queries] val pipelineOracle =
    """SELECT 'app.events' AS tag,
       to_json(struct_pack(event_id := event_id, event_type := event_type,
                           uid := user_id, source := 'yaml_or_classic')) AS line
       FROM events WHERE regexp_matches(event_type, '^(click|view)$')"""

  private def eventsIn(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_id"), col("event_type"), col("user_id"))

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "f_yaml_pipeline",
      (s, dir) => YamlConfig.assemble(s, yamlPipeline,
        Map("app.events" -> eventsIn(s, dir)))("file:app.*"),
      Some(pipelineOracle)
    ),

    GraftQuery(
      "f_config_classic",
      (s, dir) => ClassicConfig.assemble(s, classicPipeline,
        Map("app.events" -> eventsIn(s, dir)))("file:app.*"),
      Some(pipelineOracle)
    ),

    // Input-attached processors (flb_cf_yaml.c:2567: the `processors:
    // logs:` channel on an input) — content_modifier insert + hash and a
    // record_modifier run INSIDE the input, before any routed filter.
    GraftQuery(
      "f_yaml_processors",
      (s, dir) => {
        val in = Tables.events(s, dir).select(
          col("event_id"), col("event_type"),
          col("event_type").as("etype_sha"))
        YamlConfig.assemble(s,
          """pipeline:
            |  inputs:
            |    - name: ev
            |      tag: app.events
            |      processors:
            |        logs:
            |          - name: content_modifier
            |            action: hash
            |            key: etype_sha
            |          - name: content_modifier
            |            action: insert
            |            key: chan
            |            value: logs
            |          - name: record_modifier
            |            record: src proc
            |  outputs:
            |    - name: file
            |      match: '*'
            |      format: csv
            |""".stripMargin,
          Map("app.events" -> in))("file:*")
      },
      Some("""SELECT 'app.events' AS tag,
             CAST(event_id AS VARCHAR) || ',' || event_type || ',' ||
               sha256(event_type) || ',logs,proc' AS line
             FROM events""")
    ),

    // stream_processor section: a FluentQL task planned over the
    // yaml-filtered frame (the YAML twin of the classic [STREAM_TASK]).
    GraftQuery(
      "f_yaml_stream_task",
      (s, dir) => YamlConfig.assemble(s,
        """stream_processor:
          |  - name: summary
          |    exec: SELECT event_type, COUNT(*) AS n, SUM(user_id) AS sum_uid FROM STREAM:CONF GROUP BY event_type;
          |pipeline:
          |  inputs:
          |    - name: events
          |      tag: app.events
          |  filters:
          |    - name: grep
          |      match: '*'
          |      regex: event_type ^(click|view)$
          |  outputs:
          |    - name: "null"
          |      match: '*'
          |""".stripMargin,
        Map("app.events" -> eventsIn(s, dir)))("stream_task:summary"),
      Some("""SELECT event_type, count(*) AS n,
             CAST(sum(user_id) AS BIGINT) AS sum_uid
             FROM events WHERE regexp_matches(event_type, '^(click|view)$')
             GROUP BY event_type""")
    ),

    // multiline_parsers + the multiline filter: a YAML-defined state
    // machine assembles stack-trace-shaped lines per tag. Same line
    // derivation as f_multiline_batch (1/7th of events), tag = the key.
    GraftQuery(
      "f_yaml_multiline",
      (s, dir) => {
        val lines = Tables.events(s, dir)
          .filter(col("user_id") % 7 === 0)
          .select(col("user_id").cast("string").as("tag"),
            col("event_id").as("seq"),
            when(col("value") > 100,
              concat(lit("ERROR "), col("event_id")))
              .otherwise(concat(lit("  at frame "), col("event_id")))
              .as("line"))
        YamlConfig.assemble(s,
          """multiline_parsers:
            |  - name: exc
            |    type: regex
            |    rules:
            |      - state: start_state
            |        regex: "/^\\s+at /"
            |        next_state: cont
            |      - state: cont
            |        regex: "/^\\s+at /"
            |        next_state: cont
            |pipeline:
            |  inputs:
            |    - name: traces
            |      tag: ml
            |  filters:
            |    - name: multiline
            |      match: '*'
            |      multiline.parser: exc
            |      multiline.key_content: line
            |  outputs:
            |    - name: file
            |      match: '*'
            |      format: json
            |""".stripMargin,
          Map("ml" -> lines))("file:*")
      },
      Some("""WITH lines AS (
               SELECT CAST(user_id AS VARCHAR) AS tag, event_id AS seq,
                      CASE WHEN value > 100 THEN 'ERROR ' || CAST(event_id AS VARCHAR)
                           ELSE '  at frame ' || CAST(event_id AS VARCHAR) END AS line
               FROM events WHERE user_id % 7 = 0),
             g AS (
               SELECT *, sum(CASE WHEN NOT regexp_matches(line, '^\s+at ')
                                  THEN 1 ELSE 0 END)
                      OVER (PARTITION BY tag ORDER BY seq) AS grp
               FROM lines)
             SELECT tag, to_json(struct_pack(
                      first_seq := min(seq),
                      n_lines := count(*),
                      message := string_agg(line, chr(10) ORDER BY seq))) AS line
             FROM g GROUP BY tag, grp""")
    )
  )
}
