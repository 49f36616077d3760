package graft

import graft.template.TemplateCompiler
import graft.template.TemplateCompiler._
import org.apache.spark.sql.functions._

/** Golden renders for the template compiler — the E1-E8 construct surface of
  * the reference's 20 shipped templates (SURVEY.md §2.4), including the
  * awsElb golden pair from the reference's own test
  * (test/templates.test.js:24-43, FIXTURES.md A4).
  */
class TemplateCompilerSpec extends SparkSpec {
  import spark.implicits._

  private def render(tpl: String, entity: Map[String, String],
                     env: Map[String, String] = Map.empty): String =
    Seq(entity).toDF("attrs")
      .select(TemplateCompiler.compileTemplate(tpl, mapResolver(col("attrs"), env)).as("doc"))
      .head().getString(0)

  // The awsElb-shaped golden pair (reference test/templates.test.js:24-43):
  // rename + #with coalesce + literal passthrough.
  private val elbLike =
    """{"cmdb_ci": "{{entity.aws_arn}}", "asset": "{{entity.AWSUniqueId}}", "install_date": "{{entity.aws_create_time}}", "name": "{{#with entity.aws_tag_Name}}{{.}}{{else}}{{entity.aws_arn}}{{/with}}", "type": "{{entity.type}}"}"""

  test("golden: elb-like template renders rename/coalesce/literals") {
    val out = render(elbLike, Map(
      "aws_arn" -> "arn-1", "AWSUniqueId" -> "awsuid-2",
      "aws_create_time" -> "2020-05-12T12:34:56.123Z", "aws_tag_Name" -> "name-3",
      "type" -> "ELB"))
    assert(out ==
      """{"cmdb_ci": "arn-1", "asset": "awsuid-2", "install_date": "2020-05-12T12:34:56.123Z", "name": "name-3", "type": "ELB"}""")
  }

  test("#with falls back when the tested field is missing OR empty (E3)") {
    val out = render(elbLike, Map("aws_arn" -> "arn-1", "aws_tag_Name" -> "", "type" -> "T"))
    assert(out.contains(""""name": "arn-1""""))
    val out2 = render(elbLike, Map("aws_arn" -> "arn-1", "type" -> "T"))
    assert(out2.contains(""""name": "arn-1""""))
  }

  test("missing keys render as empty string (E1, Handlebars default)") {
    val out = render("""a={{entity.nope}};b={{entity.b}}""", Map("b" -> "B"))
    assert(out == "a=;b=B")
  }

  test("interpolation and literal text concat (E4/E5)") {
    val out = render("""AWS Lambda/{{entity.rt}} v{{entity.ver}}""", Map("rt" -> "java17", "ver" -> "2"))
    assert(out == "AWS Lambda/java17 v2")
  }

  test("no HTML escaping: stash and triple-stash both emit raw (E2/E8)") {
    val e = Map("x" -> "a&b", "y" -> "c<d")
    assert(render("""{{entity.x}}|{{{entity.y}}}""", e) == "a&b|c<d")
  }

  test("env substitution (E9) resolves at compile time") {
    assert(render("""tok={{env.TOKEN}}""", Map.empty, env = Map("TOKEN" -> "s3cr3t")) == "tok=s3cr3t")
  }

  test("nested #with inside fallback") {
    val tpl = """{{#with entity.a}}A={{.}}{{else}}{{#with entity.b}}B={{.}}{{else}}none{{/with}}{{/with}}"""
    assert(render(tpl, Map("a" -> "1", "b" -> "2")) == "A=1")
    assert(render(tpl, Map("b" -> "2")) == "B=2")
    assert(render(tpl, Map.empty) == "none")
  }

  test("renderString drives driver-side URL templating (E10, templates.js:36-40)") {
    val url = TemplateCompiler.renderString(
      "https://host/v2/entities?type={{type}}&updatedFromMs={{updatedFromMs}}",
      Map("type" -> "awsEc2", "updatedFromMs" -> "1700000000000"))
    assert(url == "https://host/v2/entities?type=awsEc2&updatedFromMs=1700000000000")
  }

  test("loadTemplateDir scans *.hbs files generically (templates.js:15-28)") {
    val dir = java.nio.file.Files.createTempDirectory("tpl")
    java.nio.file.Files.writeString(dir.resolve("awsEc2.hbs"), """{"a": "{{entity.x}}"}""")
    java.nio.file.Files.writeString(dir.resolve("gce.hbs"), """{"b": "{{entity.y}}"}""")
    java.nio.file.Files.writeString(dir.resolve("notes.txt"), "ignored")
    val loaded = TemplateCompiler.loadTemplateDir(dir)
    assert(loaded.keySet == Set("awsEc2", "gce"))
    assert(loaded("awsEc2").contains("entity.x"))
    assert(TemplateCompiler.loadTemplateDir(dir.resolve("missing")).isEmpty)
  }

  test("parse rejects unbalanced constructs") {
    intercept[IllegalArgumentException](TemplateCompiler.parse("{{#with entity.a}}no close"))
    intercept[IllegalArgumentException](TemplateCompiler.parse("{{unterminated"))
  }

  // ------------------------------------------------------------------------
  // Golden renders over the ACTUAL 20 shipped reference templates
  // (/root/reference/templates/*.hbs; SURVEY.md §5 commitment). Decision on
  // the two template defects (SURVEY.md §7.5 risk 6): FAITHFUL — the
  // reference's Handlebars renders exactly what the template says, so
  // awsDynamoDb.hbs (missing comma after "type": "DB") and awsS3.hbs
  // (trailing comma before }) produce invalid JSON there too; we reproduce
  // the bytes rather than silently repairing a user's template.
  // ------------------------------------------------------------------------

  private val refDir = java.nio.file.Paths.get("/root/reference/templates")
  private def refTemplates = TemplateCompiler.loadTemplateDir(refDir)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parsesAsJson(s: String): Boolean =
    try { mapper.readTree(s); true } catch { case _: Exception => false }

  /** A2-shaped entity covering the field surface of all 19 entity templates. */
  private val a2Entity: Map[String, String] = Map(
    "aws_arn" -> "arn:aws:ec2:us-west-2:123:instance/i-1", "AWSUniqueId" -> "i-1_us-west-2_123",
    "aws_architecture" -> "x86_64", "aws_state" -> "running", "aws_state_reason" -> "",
    "aws_launch_time" -> "2020-05-12T12:34:56.123Z", "aws_tag_Name" -> "web-1",
    "aws_instance_id" -> "i-1", "aws_instance_type" -> "m5.large", "aws_image_id" -> "ami-9",
    "aws_hypervisor" -> "xen", "aws_create_time" -> "2020-05-12T12:34:56.123Z",
    "aws_creation_time" -> "2020-05-12T12:34:56.123Z", "aws_created_timestamp" -> "2020-05-12",
    "aws_instance_create_time" -> "2020-05-11T01:02:03Z", "aws_cluster_create_time" -> "2020-05-10",
    "aws_cache_cluster_create_time" -> "2020-05-09", "aws_cache_cluster_name" -> "cache-1",
    "aws_cluster_identifier" -> "cl-1", "aws_cluster_name" -> "ecs-1", "aws_cluster_node_type" -> "dc2",
    "aws_cluster_status" -> "available", "aws_cluster_version" -> "1.0",
    "aws_db_instance_identifier" -> "db-1", "aws_distribution_id" -> "E123",
    "aws_domain_name" -> "search-1", "aws_encrypted" -> "true", "aws_engine" -> "postgres",
    "aws_engine_version" -> "13.4", "aws_fifo_queue" -> "false",
    "aws_function_code_sha256" -> "abc", "aws_function_memory_size" -> "512",
    "aws_function_name" -> "fn-1", "aws_function_runtime" -> "java17", "aws_function_version" -> "7",
    "aws_master_public_dns_name" -> "emr-1", "aws_queue_url" -> "https://sqs/q1",
    "aws_release_label" -> "emr-6.3", "aws_rest_api_name" -> "api-1",
    "aws_retention_period_hours" -> "24", "aws_stage_name" -> "prod", "aws_status" -> "ACTIVE",
    "aws_table_status" -> "ACTIVE", "aws_attachment_state" -> "attached",
    "azure_resource_id" -> "/subs/1/vm-1", "azure_vm_id" -> "vm-1",
    "azure_computer_name" -> "azvm", "azure_power_state" -> "PowerState/running",
    "azure_size" -> "Standard_D2", "azure_image_reference_offer" -> "UbuntuServer",
    "azure_image_reference_sku" -> "18.04-LTS", "azure_image_reference_version" -> "latest",
    "gcp_standard_id" -> "gce://p/z/i-1", "gcp_id" -> "981", "gcp_cpu_platform" -> "Intel",
    "gcp_creation_time" -> "2020-05-12T12:34:56Z", "gcp_status" -> "RUNNING",
    "gcp_machine_type" -> "n1-standard-1")

  test("golden: loadTemplateDir loads all 20 shipped reference templates") {
    val tpls = refTemplates
    assert(tpls.size == 20, s"expected 20 templates, got ${tpls.keySet}")
    assert(tpls.keySet == Set("awsApiGateway", "awsAsg", "awsCloudFront", "awsDynamoDb",
      "awsEbsVolume", "awsEc2", "awsEcs", "awsElastiCache", "awsElasticSearch", "awsElb",
      "awsEmr", "awsKinesis", "awsLambda", "awsRds", "awsRedshift", "awsS3", "awsSqs",
      "azureVm", "gce", "targetBody"))
  }

  test("golden: all 19 entity templates render; 17 valid JSON, 2 faithful defects") {
    val tpls = refTemplates - "targetBody"
    val broken = Set("awsDynamoDb", "awsS3")
    tpls.foreach { case (name, tpl) =>
      val out = render(tpl, a2Entity)
      if (broken(name))
        assert(!parsesAsJson(out), s"$name: template defect should reproduce faithfully:\n$out")
      else
        assert(parsesAsJson(out), s"$name rendered invalid JSON:\n$out")
    }
  }

  test("golden: awsElb matches the reference's own test pair (test/templates.test.js:24-43)") {
    val out = render(refTemplates("awsElb"), Map(
      "aws_arn" -> "arn-1", "AWSUniqueId" -> "awsuid-2",
      "aws_create_time" -> "2020-05-12T12:34:56.123Z", "aws_tag_Name" -> "name-3",
      "type" -> "ELB"))
    val node = mapper.readTree(out)
    assert(node.size() == 5)
    assert(node.get("cmdb_ci").asText == "arn-1")
    assert(node.get("asset").asText == "awsuid-2")
    assert(node.get("install_date").asText == "2020-05-12T12:34:56.123Z")
    assert(node.get("name").asText == "name-3")
    assert(node.get("type").asText == "ELB")
  }

  test("golden: awsEc2 #with fallback + azureVm interpolation over real templates") {
    // aws_tag_Name present -> name; removed -> falls back to aws_instance_id
    val ec2 = mapper.readTree(render(refTemplates("awsEc2"), a2Entity))
    assert(ec2.get("name").asText == "web-1" && ec2.get("vendor").asText == "AWS/EC2")
    val noTag = mapper.readTree(render(refTemplates("awsEc2"), a2Entity - "aws_tag_Name"))
    assert(noTag.get("name").asText == "i-1")
    val az = mapper.readTree(render(refTemplates("azureVm"), a2Entity))
    assert(az.get("version").asText == "UbuntuServer 18.04-LTS/latest")
    val gce = mapper.readTree(render(refTemplates("gce"), a2Entity))
    assert(gce.get("cmdb_ci").asText == "gce://p/z/i-1" && gce.get("name").asText == "981")
  }

  test("golden: the real targetBody.hbs joins rendered docs (E7, targetBody.hbs:1-3)") {
    val tpl = refTemplates("targetBody")
    assert(TemplateCompiler.renderBatchBody(tpl, Seq("""{"a":1}""", """{"b":2}""")) ==
      "[\n" + """{"a":1},{"b":2}""" + "\n]")
    // single element: no separator; the list parses as JSON
    assert(TemplateCompiler.renderBatchBody(tpl, Seq("""{"a":1}""")) == "[\n" + """{"a":1}""" + "\n]")
    assert(parsesAsJson(TemplateCompiler.renderBatchBody(tpl, Seq("""{"a":1}""", """{"b":2}"""))))
    assert(TemplateCompiler.renderBatchBody(tpl, Nil) == "[\n\n]")
  }

  test("user-edited targetBody shape renders faithfully (templates.js:43)") {
    val tpl = """{"entities": [{{#each entities}}{{{.}}}{{#unless @last}}, {{/unless}}{{/each}}], "n": "batch"}"""
    assert(TemplateCompiler.renderBatchBody(tpl, Seq("1", "2", "3")) ==
      """{"entities": [1, 2, 3], "n": "batch"}""")
  }
}
