package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Golden wire bytes of the TaskRunEvent codec — the fold's most
  * frequent event payload (a started/ended pair per task) — and the
  * decode rules both producer families rely on. */
class TaskRunEventCodecSpec extends AnyFunSuite {
  import EventCodec.{decodeTaskRunEvent => decode, encodeTaskRunEvent => encode}

  private val golden = Seq(
    "started only" -> (
      TaskRunEvent(0, 3, 1600000000070L, 0,
        Some(TaskRunStartedPayload("w-1", Some("{\"thing\":\"a\\tb\"}"))), None),
      """{"threadId":0,"taskRunPosition":3,"timestamp":1600000000070,""" +
        """"taskDefVersionNumber":0,"startedEvent":{"workerId":"w-1",""" +
        """"stdin":"{\"thing\":\"a\\tb\"}"},"endedEvent":null}"""),
    "ended only, success" -> (
      TaskRunEvent(2, 0, 5L, 7, None, Some(TaskRunEndedPayload(
        TaskRunResult(Some("\"task-0\""), Some("warn"), success = true, 0)))),
      """{"threadId":2,"taskRunPosition":0,"timestamp":5,""" +
        """"taskDefVersionNumber":7,"startedEvent":null,"endedEvent":""" +
        """{"result":{"stdout":"\"task-0\"","stderr":"warn",""" +
        """"success":true,"returncode":0}}}"""),
    "ended only, failure with null stdout and stderr" -> (
      TaskRunEvent(1, 4, 9L, -1, None, Some(TaskRunEndedPayload(
        TaskRunResult(None, None, success = false, 1)))),
      """{"threadId":1,"taskRunPosition":4,"timestamp":9,""" +
        """"taskDefVersionNumber":-1,"startedEvent":null,"endedEvent":""" +
        """{"result":{"stdout":null,"stderr":null,"success":false,""" +
        """"returncode":1}}}"""),
    "neither" -> (
      TaskRunEvent(0, 0, 0L, -1, None, None),
      """{"threadId":0,"taskRunPosition":0,"timestamp":0,""" +
        """"taskDefVersionNumber":-1,"startedEvent":null,"endedEvent":null}"""))

  golden.foreach { case (name, (event, bytes)) =>
    test(s"encode golden bytes and round trip: $name") {
      assert(encode(event) == bytes)
      assert(decode(bytes) == event)
    }
  }

  test("decode reads SDK ISO timestamps, naive (as UTC) and with an offset") {
    val naive = decode("""{"threadId":0,"taskRunPosition":1,""" +
      """"timestamp":"2022-02-22T12:00:00.123456","startedEvent":""" +
      """{"workerId":"py","stdin":null},"endedEvent":null}""")
    assert(naive.timestamp == 1645531200123L)
    val offset = decode("""{"threadId":0,"taskRunPosition":1,""" +
      """"timestamp":"2022-02-22T12:00:00.123+02:00"}""")
    assert(offset.timestamp == 1645524000123L)
  }

  test("decode defaults taskDefVersionNumber to -1 and skips unknown fields") {
    val e = decode("""{"extra":{"a":[1,{"b":null}]},"threadId":3,""" +
      """"taskRunPosition":2,"timestamp":10,"more":[[]],""" +
      """"startedEvent":null,"endedEvent":{"note":{"x":1},"result":""" +
      """{"stdout":"1","junk":[true],"success":true,"returncode":0}}}""")
    assert(e == TaskRunEvent(3, 2, 10L, -1, None, Some(TaskRunEndedPayload(
      TaskRunResult(Some("1"), None, success = true, 0)))))
    val s = decode("""{"startedEvent":{"workerId":"w","who":{"k":"v"}}}""")
    assert(s == TaskRunEvent(0, 0, 0L, -1,
      Some(TaskRunStartedPayload("w", None)), None))
  }

  test("an endedEvent without a result object raises VarSubError") {
    for (ended <- Seq("{}", """{"result":null}""", """{"other":{}}"""))
      intercept[VarSubError] {
        decode(s"""{"threadId":0,"taskRunPosition":0,"endedEvent":$ended}""")
      }
  }
}
